"""Property-based tests (hypothesis) for the reference-parity quirks that
hand-picked fixtures under-cover (SURVEY.md §7.4/§7.5 hard parts):

- positive-or-null cleansing vs an independent model of the reference's
  `is_positive_integer`/`is_positive_float` (`loader.py:31-50`);
- the Python-repr nested-cell parser vs `ast.literal_eval` ground truth
  (apostrophes, quotes, None, junk — `loader.py:146` et al.), and its
  native `from_json` branch vs the `literal_eval` fallback for all six
  cell shapes;
- rolling-hash fingerprint vs a pure-Python model;
- surrogate-id assignment invariant under row permutation/duplication.

Each hypothesis example generates a BATCH of values and runs one Spark job
over the batch, keeping example counts useful and runtime sane.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from the_movie_database_import_spark.etl.parse import (
    parse_id_name_array,
    positive_bigint_or_null,
    positive_double_or_null,
    positive_int_trunc_or_null,
)
from the_movie_database_import_spark.functions.text import (
    FINGERPRINT_BASE,
    FINGERPRINT_MOD,
    FINGERPRINT_PREFIX,
    fingerprint,
)
from the_movie_database_import_spark.operators.surrogate import assign_surrogate_ids

SETTINGS = settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)

# Numeric-ish cell strings as they occur in CSV data: ints, decimals,
# signs, whitespace, empties, and word junk. (Python-only syntax like
# "1_000" is deliberately out of scope — the reference never sees it.)
cellish = st.one_of(
    st.integers(-10**12, 10**12).map(str),
    st.floats(
        allow_nan=False, allow_infinity=False, min_value=-1e9, max_value=1e9
    ).map(str),
    st.sampled_from(["", " ", "0", "-0", "abc", "12abc", "1.5.2", "None", "nan"]),
    st.integers(-100, 100).map(lambda i: f"  {i} "),
)


def _model_positive_int(cell: str):
    """Independent model of `is_positive_integer` (`loader.py:37-42`)."""
    try:
        v = int(cell)
    except (TypeError, ValueError):
        return None
    return v if v > 0 else None


def _model_positive_float(cell: str):
    try:
        v = float(cell)
    except (TypeError, ValueError):
        return None
    return v if v > 0 else None


def _str_df(spark, cells):
    schema = StructType([StructField("c", StringType())])
    return spark.createDataFrame([(c,) for c in cells], schema)


@SETTINGS
@given(cells=st.lists(cellish, min_size=1, max_size=60))
def test_positive_bigint_cleansing_matches_reference_model(spark, cells):
    got = [
        r.v
        for r in _str_df(spark, cells)
        .select(positive_bigint_or_null(F.col("c")).alias("v"))
        .collect()
    ]
    want = [_model_positive_int(c) for c in cells]
    assert got == want


@SETTINGS
@given(cells=st.lists(cellish, min_size=1, max_size=60))
def test_positive_double_cleansing_matches_reference_model(spark, cells):
    got = [
        r.v
        for r in _str_df(spark, cells)
        .select(positive_double_or_null(F.col("c")).alias("v"))
        .collect()
    ]
    want = [_model_positive_float(c) for c in cells]
    for g, w in zip(got, want):
        assert (g is None) == (w is None)
        if g is not None:
            assert g == w


trunc_cellish = st.one_of(
    cellish, st.sampled_from(["inf", "-inf", "Infinity", "1.9", "0.5", "-0.5"])
)


def _model_positive_int_trunc(cell: str):
    """Independent model of the runtime's float-parse-then-int() cleansing
    (`is_positive_integer`, `loader.py:37-42` + `:139-140`): NaN/inf make
    int() raise (→ NULL), and positivity is checked on the TRUNCATED value
    — int('0.5'-as-float) == 0 is not > 0, so '0.5' → NULL."""
    try:
        v = float(cell)
    except (TypeError, ValueError):
        return None
    try:
        i = int(v)
    except (OverflowError, ValueError):
        return None
    if not i > 0:
        return None
    # int32 sink column: out-of-range becomes NULL (try_cast), not an error
    return i if i <= 2**31 - 1 else None


@SETTINGS
@given(cells=st.lists(trunc_cellish, min_size=1, max_size=60))
def test_positive_int_trunc_cleansing_matches_reference_model(spark, cells):
    got = [
        r.v
        for r in _str_df(spark, cells)
        .select(positive_int_trunc_or_null(F.col("c")).alias("v"))
        .collect()
    ]
    want = [_model_positive_int_trunc(c) for c in cells]
    assert got == want


shingle_text = st.text(
    alphabet=st.sampled_from("ab "), max_size=30
)  # short alphabet forces repeated tokens and empty-token edge cases


@SETTINGS
@given(texts=st.lists(shingle_text, min_size=1, max_size=30), n=st.integers(1, 4))
def test_word_shingles_matches_python_model(spark, texts, n):
    """word_shingles == distinct n-grams of the whitespace split, [] for
    docs shorter than n tokens (the sequence(0, negative) guard)."""
    from the_movie_database_import_spark.functions.text import word_shingles

    got = [
        r.s
        for r in _str_df(spark, texts)
        .select(word_shingles(F.col("c"), n).alias("s"))
        .collect()
    ]
    for text, g in zip(texts, got):
        toks = text.split(" ")
        want = list(
            dict.fromkeys(
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            )
        )
        assert g == want, f"{text!r} n={n}: {g} != {want}"


name_text = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",), exclude_characters="\x00"
    ),
    max_size=20,
)
entity = st.fixed_dictionaries({"id": st.integers(0, 10**9), "name": name_text})
cell_value = st.one_of(
    st.none(),
    st.just(""),
    st.just("[]"),
    st.just("not a literal ["),
    st.lists(entity, max_size=4).map(repr),
)


@SETTINGS
@given(cells=st.lists(cell_value, min_size=1, max_size=40))
def test_repr_array_parser_matches_literal_eval(spark, cells):
    """The Arrow UDF must extract exactly the (id, name) pairs that a trusted
    literal_eval of the repr produces — including apostrophes/quotes in
    names — and NULL for invalid/empty cells (`is_valid_str` guard)."""
    import ast

    got = [
        r.parsed
        for r in _str_df(spark, cells)
        .select(parse_id_name_array(F.col("c")).alias("parsed"))
        .collect()
    ]
    for cell, out in zip(cells, got):
        if not isinstance(cell, str) or len(cell) == 0:
            assert out is None
            continue
        try:
            truth = ast.literal_eval(cell)
        except (ValueError, SyntaxError):
            assert out is None
            continue
        assert out is not None
        assert [(e["id"], e["name"]) for e in truth] == [
            (e.id, e.name) for e in out
        ]


# Nested cells for every parse shape, near and inside the canonical repr
# grammar. Names carry the tokens the native rewrite must not touch
# (': None', a 'job' key), both quote kinds, escapes, control characters
# and text outside the BMP.
tricky_name = st.one_of(
    st.text(alphabet=st.sampled_from("ab N'\":,{}[]"), max_size=12),
    name_text,
    st.sampled_from(
        [
            "Act': None", "x': None, 'id': 5", ": None}", "None", "O'Brien",
            "O'Brien': None", "a 'k': None, b", "a 'id': None}", "it's 'job': here",
            'say "hi"', "both ' and \"",
            "back\\slash", "caf\xe9", "tab\there", "new\nline", "nul\x00",
            "\x7f", " ", "nbsp\xa0", "\U0001f600 outside the BMP",
        ]
    ),
)
py_value = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-1000, 1000),
    st.integers(-(2**70), 2**70),  # int64 and beyond
    st.sampled_from([12.0, -3.5, 1e999]),  # float ids; 1e999 is inf
    st.integers(0, 99).map(str),  # string ids: '12'
    tricky_name,
)
# A string written without repr's escaping: raw control characters and
# backslashes between quotes, as a hand-edited CSV could hold them.
raw_string = tricky_name.filter(lambda s: "'" not in s).map(lambda s: f"'{s}'")
nested_keys = st.sampled_from(
    ["id", "name", "job", "order", "iso_639_1", "iso_3166_1", "has_job", "ID",
     "character", "profile_path", "", "a, ", "x y"]
)


def typed_value(key):
    """The kind of value the key's field holds (ints beyond int64
    included); any key's value is an int, a string or None in the repr
    grammar."""
    if key in ("id", "order"):
        return st.one_of(st.none(), st.integers(-1000, 10**6), st.integers(-(2**66), 2**66))
    if key in ("name", "job", "iso_639_1", "iso_3166_1"):
        return st.one_of(st.none(), tricky_name)
    return st.one_of(st.none(), st.integers(-1000, 1000), tricky_name)


typed_pair = nested_keys.flatmap(lambda k: typed_value(k).map(lambda v: (k, v)))
# Python objects, so repr gives the canonical text.
py_dict = st.lists(typed_pair, max_size=4).map(dict)
py_list = st.lists(py_dict, max_size=4)


@st.composite
def text_dict(draw):
    """Dict text off the canonical grammar: values of the wrong kind
    (float or string ids, booleans), duplicate keys, raw strings, ':'
    without a space, trailing commas."""
    pairs = draw(
        st.lists(st.tuples(nested_keys, st.one_of(py_value.map(repr), raw_string)), max_size=4)
    )
    kv = draw(st.sampled_from([": ", ":"]))
    body = ", ".join(f"{k!r}{kv}{v}" for k, v in pairs)
    return "{" + body + draw(st.sampled_from(["", ","])) + "}"


@st.composite
def text_list(draw):
    """List text off the grammar: non-dict elements, trailing commas."""
    items = draw(
        st.lists(
            st.one_of(text_dict(), py_dict.map(repr), st.sampled_from(["5", "None", "'x'"])),
            max_size=4,
        )
    )
    return "[" + ", ".join(items) + draw(st.sampled_from(["", ","])) + "]"


trailing_text = st.sampled_from([" trailing", "\n", " ", "]", ", 5"])


def canonical_cell(is_list: bool):
    return (py_list if is_list else py_dict).map(repr)


def nested_cell(is_list: bool):
    canonical = canonical_cell(is_list)
    kinds = [
        st.none(),
        st.sampled_from(["", " ", "not a literal [", "[", "{}", "[]"]),
        st.builds(lambda c, t: c + t, canonical, trailing_text),
        text_list() if is_list else text_dict(),
        (py_dict if is_list else py_list).map(repr),  # the other top-level kind
    ]
    # half of the cells are canonical reprs
    return st.integers(0, 2 * len(kinds) - 1).flatmap(
        lambda i: kinds[i] if i < len(kinds) else canonical
    )


@SETTINGS
@given(data=st.data())
def test_native_or_fallback_parse_matches_literal_eval_path(spark, data):
    """For all six shapes, the native-or-fallback parse equals the
    literal_eval path, row for row: the guard must route every cell that
    from_json would read differently (float or string ids, Python escapes,
    trailing text, non-dict elements, ids beyond int64, ...) to the
    fallback, and the None / has_job rewrites must be exact on the rest,
    with or without a fallback cell in the table."""
    import json
    import operator
    from functools import reduce

    from tools.plan_manifest import plan_counts

    from the_movie_database_import_spark.etl.parse import (
        CAST,
        COLLECTION,
        COUNTRIES,
        CREW,
        ID_NAMES,
        LANGS,
        parse_nested,
    )

    shapes = {
        "ids": ID_NAMES, "langs": LANGS, "countries": COUNTRIES,
        "crew": CREW, "cast": CAST, "collection": COLLECTION,
    }
    rows = data.draw(
        st.lists(
            st.tuples(*[nested_cell(s.is_list) for s in shapes.values()]),
            min_size=20,
            max_size=60,
        )
    ) + data.draw(
        st.lists(
            st.tuples(*[canonical_cell(s.is_list) for s in shapes.values()]),
            min_size=5,
            max_size=10,
        )
    )
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], "i int, " + ", ".join(f"{n} string" for n in shapes)
    )
    # the rows whose every cell the guard accepts (or that are empty or
    # NULL): their parse must plan no Python at all
    accepted = df.filter(
        reduce(
            operator.and_,
            [
                F.coalesce((F.length(n) == 0) | F.col(n).rlike(s.guard), F.lit(True))
                for n, s in shapes.items()
            ],
        )
    )
    cells = {n: (n, s) for n, s in shapes.items()}
    native = parse_nested(accepted, ["i"], **cells)
    assert plan_counts(native)["python_eval"] == 0
    for out in [*parse_nested(df, ["i"], **cells).collect(), *native.collect()]:
        for (n, shape), cell in zip(shapes.items(), rows[out.i]):
            want = shape.literal_json(cell)
            want = None if want is None else json.loads(want)
            g = out[n]
            if g is not None:
                g = [e.asDict() for e in g] if shape.is_list else g.asDict()
            assert g == want, (n, cell)


@SETTINGS
@given(texts=st.lists(name_text, min_size=1, max_size=40))
def test_fingerprint_matches_python_model(spark, texts):
    got = [
        r.fp
        for r in _str_df(spark, texts)
        .select(fingerprint(F.col("c")).alias("fp"))
        .collect()
    ]
    for text, g in zip(texts, got):
        acc = 0
        for ch in text[:FINGERPRINT_PREFIX]:
            acc = (acc * FINGERPRINT_BASE + ord(ch)) % FINGERPRINT_MOD
        assert g == acc, f"fingerprint mismatch for {text!r}"


@SETTINGS
@given(
    keys=st.lists(st.text(alphabet="abcdef", min_size=1, max_size=3), min_size=1, max_size=30),
    seed=st.integers(0, 2**31),
)
def test_surrogate_ids_permutation_invariant(spark, keys, seed):
    """Dense 1-based ids ordered by natural key — identical for any input
    row order or duplication (deviation D1's determinism claim)."""
    import random

    rng = random.Random(seed)
    shuffled = keys[:]
    rng.shuffle(shuffled)
    a = {
        (r.k, r.surrogate_id)
        for r in assign_surrogate_ids(_str_df(spark, keys).withColumnRenamed("c", "k"), "k").collect()
    }
    b = {
        (r.k, r.surrogate_id)
        for r in assign_surrogate_ids(
            _str_df(spark, shuffled + shuffled).withColumnRenamed("c", "k"), "k"
        ).collect()
    }
    assert a == b
    ids = sorted(i for _, i in a)
    assert ids == list(range(1, len(ids) + 1))


# --- first-collision-band candidate emission (VERDICT r03 #7) ---------------
#
# The banded LSH self-joins (minhash, simhash, cosine) share one hand-rolled
# trick: instead of emitting a candidate pair once per colliding band and
# deduplicating with distinct() (an extra shuffle), a CASE chain keeps a
# match only at its FIRST colliding band. The property: the emitted pair
# set equals the distinct()-model ("any band collides, each pair once"),
# with no duplicate rows. Driven through cosine_neardup_pairs_lsh with a
# verification threshold of -2 so every candidate survives — the output IS
# the candidate set. The independent model recomputes signatures in Python
# with the same left-fold float summation order as F.aggregate, so sign
# bits match bit-for-bit.

vec8 = st.lists(
    st.floats(allow_nan=False, allow_infinity=False, min_value=-1.0, max_value=1.0),
    min_size=8, max_size=8,
).map(lambda v: v if any(x != 0.0 for x in v) else ([1.0] + v[1:]))


@SETTINGS
@given(
    vecs=st.lists(vec8, min_size=2, max_size=10),
    band_bits=st.integers(1, 2),
    bands=st.integers(2, 3),
    n_blocks=st.integers(1, 2),
)
def test_first_collision_band_matches_distinct_model(
    spark, vecs, band_bits, bands, n_blocks
):
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StringType as S, StructField, StructType,
    )

    from the_movie_database_import_spark.operators.similarity import (
        _hyperplane,
        cosine_neardup_pairs_lsh,
    )

    planes = band_bits * bands
    rows = [(i, f"b{i % n_blocks}", v) for i, v in enumerate(vecs)]
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("label", S()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    emb = spark.createDataFrame(rows, schema)
    got_rows = cosine_neardup_pairs_lsh(
        emb, threshold=-2.0, planes=planes, bands=bands, dim=8
    ).collect()
    got = [(r.vec_a, r.vec_b) for r in got_rows]
    assert len(got) == len(set(got)), "duplicate candidate emission"

    # independent python model: signature -> band values -> distinct pairs
    hps = [_hyperplane(8, p) for p in range(planes)]

    def band_vals(v):
        sig = 0
        for p, hp in enumerate(hps):
            proj = 0.0
            for x, h in zip(v, hp):  # same fold order as F.aggregate
                proj += x * h
            if proj >= 0:
                sig += 2**p
        mask = (1 << band_bits) - 1
        return [(sig >> (i * band_bits)) & mask for i in range(bands)]

    bv = {i: band_vals(v) for i, (_, _, v) in enumerate(
        (r[0], r[1], r[2]) for r in rows
    )}

    # Same IEEE fold as operators.similarity.norm: sqrt of the ordered sum
    # of squares. A vector of ~1e-308 components has a squared norm that
    # underflows to 0.0 (python and the JVM agree bit-for-bit), and a pair
    # whose norm PRODUCT underflows to 0.0 has an undefined cosine — the
    # operator emits NULL there (try_divide) and the threshold filter drops
    # it, so the model must drop it too.
    import math

    def vnorm(v):
        s = 0.0
        for x in v:
            s += x * x
        return math.sqrt(s)

    nrm = {i: vnorm(v) for i, (_, _, v) in enumerate(rows)}
    want = {
        (a, b)
        for a in range(len(vecs))
        for b in range(a + 1, len(vecs))
        if rows[a][1] == rows[b][1]
        and any(bv[a][i] == bv[b][i] for i in range(bands))
        and nrm[a] * nrm[b] != 0.0
    }
    assert set(got) == want, (sorted(got), sorted(want))


@given(
    p=st.floats(0.2, 0.99),
    target=st.floats(0.5, 0.99),
    budget=st.integers(4, 64),
)
@settings(deadline=None)
def test_choose_banding_is_feasible_and_most_selective(p, target, budget):
    """For any feasible (p, target, budget): the returned geometry must
    (1) satisfy its own analytic recall formula AT the threshold,
    (2) fit the signature budget with bands dividing the signature, and
    (3) be the MOST SELECTIVE feasible geometry — no larger rows-per-band
    value can meet the target within the budget (wider bands = fewer
    candidates, the whole point of the chooser)."""
    import math

    from the_movie_database_import_spark.operators.banding import choose_banding

    try:
        sig, bands = choose_banding(p, target, budget)
    except ValueError:
        # infeasible: even one-component bands can't reach the target
        b1 = math.ceil(math.log(1.0 - target) / math.log(1.0 - p))
        assert b1 > budget
        return
    r = sig // bands
    assert sig == r * bands and sig <= budget
    recall = 1.0 - (1.0 - p**r) ** bands
    assert recall >= target - 1e-12, (p, target, sig, bands, recall)
    for r2 in range(r + 1, budget + 1):
        p_band = p**r2
        if p_band >= 1.0 or 1.0 - p_band == 1.0:  # same underflow guard
            continue
        b2 = math.ceil(math.log(1.0 - target) / math.log(1.0 - p_band))
        assert r2 * b2 > budget, (
            f"chooser picked r={r} but r={r2} (bands={b2}) also fits"
        )


@given(
    fracs=st.lists(
        st.floats(0.0, 1.0, allow_nan=False), min_size=1, max_size=6
    ).filter(lambda fs: sum(fs) <= 1.0)
)
@settings(deadline=None)
def test_split_thresholds_properties(fracs):
    """For any valid fraction list: thresholds are 8-char lowercase hex (or
    the keep-all 'g'), nondecreasing, and the last one is 'g' exactly when
    the fractions sum to ~1 (the float-drift snap, ADVICE r04) — so splits
    are always disjoint and exhaustive-when-sum-to-1."""
    from the_movie_database_import_spark.operators.sampling import (
        _split_thresholds,
    )

    splits = {f"s{i}": f for i, f in enumerate(fracs)}
    thresholds = [t for _, t in _split_thresholds(splits)]
    for t in thresholds:
        assert t == "g" or (len(t) == 8 and all(c in "0123456789abcdef" for c in t))
    assert thresholds == sorted(thresholds), "intervals must be nondecreasing"
    if sum(fracs) >= 1.0 - 1e-9:
        assert thresholds[-1] == "g", "sum-to-1 must be exhaustive"
    else:
        assert thresholds[-1] != "g", "sum<1 must leave an otherwise-gap"


# Small synthetic corpora with forced duplicate paragraphs: texts drawn
# from a tiny paragraph alphabet joined with '|', so cross-document and
# within-document repeats are common.
_para = st.sampled_from(["a", "bb", "ccc", "", "dd d"])
_ptext = st.lists(_para, min_size=1, max_size=5).map(lambda ps: "|".join(ps))


@SETTINGS
@given(texts=st.lists(_ptext, min_size=1, max_size=12))
def test_dedup_paragraphs_matches_python_model(spark, texts):
    """dedup_paragraphs vs an independent Python model: each distinct
    paragraph survives exactly once globally at its first (id, pos)
    occurrence; docs rebuild as the subsequence of surviving positions;
    all-loser docs drop."""
    from the_movie_database_import_spark.operators.dedup import dedup_paragraphs

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_paras"], r["n_kept"])
        for r in dedup_paragraphs(docs, sep="|").collect()
    }

    seen: set[str] = set()
    expected = {}
    for i, t in rows:
        paras = t.split("|")
        kept = []
        for p in paras:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        if kept:
            expected[i] = ("|".join(kept), len(paras), len(kept))
    assert got == expected


@SETTINGS
@given(
    ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=30, unique=True),
    n_shards=st.integers(1, 5),
)
def test_shuffle_shards_matches_python_model(spark, ids, n_shards):
    """shuffle_shards vs an independent Python model of the md5 ordering:
    same shard assignment, same within-shard positions."""
    import hashlib

    from the_movie_database_import_spark.operators.mixing import shuffle_shards

    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = sorted(
        map(tuple, shuffle_shards(docs, n_shards).select(
            "doc_id", "shard", "pos").collect())
    )

    def digest(i):
        return hashlib.md5(str(i).encode()).hexdigest()

    model = []
    by_shard: dict = {}
    for i in ids:
        by_shard.setdefault(int(digest(i)[:8], 16) % n_shards, []).append(i)
    for shard, members in by_shard.items():
        for pos, i in enumerate(sorted(members, key=lambda x: (digest(x), x)), 1):
            model.append((i, shard, pos))
    assert got == sorted(model)


# --- event-sequence analytics vs pure-Python models (random tiny logs) ---

_event_logs = st.lists(
    st.tuples(
        st.integers(1, 4),                       # user_id
        st.integers(0, 20),                      # ts seconds offset (collisions likely)
        st.sampled_from(["view", "click", "purchase", "noise"]),
    ),
    min_size=0,
    max_size=40,
)


def _events_df(spark, rows):
    import datetime

    data = [
        (u, datetime.datetime(2024, 1, 1, 0, 0, s), et, i)
        for i, (u, s, et) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "user_id long, ts timestamp, event_type string, event_id long"
    )


@SETTINGS
@given(rows=_event_logs)
def test_funnel_matches_model_on_random_logs(spark, rows):
    """Random tiny logs with heavy ts collisions and noise types: the
    Spark in-row fold must equal the greedy-earliest Python model,
    including zero-count stages and strict-> ties (ties sort by type name
    in both)."""
    from the_movie_database_import_spark.operators.analytics import funnel_counts

    stages = ["view", "click", "purchase"]
    reached_per_user: dict = {}
    by_user: dict = {}
    for u, s, et in rows:
        by_user.setdefault(u, []).append((s, et))
    for u, evs in by_user.items():
        reached, last = 0, None
        for s, et in sorted(evs):
            if reached < 3 and et == stages[reached] and (reached == 0 or s > last):
                reached, last = reached + 1, s
        reached_per_user[u] = reached
    expected = {
        k: sum(1 for r in reached_per_user.values() if r >= k) for k in (1, 2, 3)
    }
    got = {
        r["stage_idx"]: r["n_users"]
        for r in funnel_counts(_events_df(spark, rows), stages).collect()
    }
    assert got == expected


@SETTINGS
@given(rows=_event_logs)
def test_scd2_matches_model_on_random_logs(spark, rows):
    """Random tiny logs: SCD2 runs must equal the Python run-length model
    under the same (ts, event_id) total order — versions contiguous,
    intervals chained, one current row per key."""
    from the_movie_database_import_spark.operators.analytics import scd2_history

    by_user: dict = {}
    for i, (u, s, et) in enumerate(rows):
        by_user.setdefault(u, []).append((s, i, et))
    expected = []
    for u, evs in by_user.items():
        evs.sort()
        runs = [
            (s, et)
            for j, (s, _i, et) in enumerate(evs)
            if j == 0 or et != evs[j - 1][2]
        ]
        for v, (s, et) in enumerate(runs):
            to = runs[v + 1][0] if v + 1 < len(runs) else None
            expected.append((u, et, s, to, v + 1, to is None))
    got = [
        (
            r["user_id"],
            r["value"],
            r["valid_from"].second + r["valid_from"].minute * 60,
            None if r["valid_to"] is None
            else r["valid_to"].second + r["valid_to"].minute * 60,
            r["version"],
            r["is_current"],
        )
        for r in scd2_history(_events_df(spark, rows)).collect()
    ]
    # valid_to mixes None (current row) and ints: plain tuple sort raises
    # TypeError when two rows tie on every field before it (same user,
    # value, and start second — reachable, ts has second resolution)
    key = lambda t: (  # noqa: E731
        t[0], t[1], t[2], t[3] is not None, t[3] or 0, t[4], t[5]
    )
    assert sorted(got, key=key) == sorted(expected, key=key)


_tokens = st.sampled_from(["a", "bb", "ccc", "dd", "e"])
_docs = st.lists(
    st.lists(_tokens, min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=15,
)


@SETTINGS
@given(texts=_docs)
def test_bm25_matches_model_on_random_corpora(spark, texts):
    """Random tiny corpora (repeated tokens, empty docs, duplicate texts):
    the grid-quantized BM25 integer score must equal the Python model
    exactly — including the empty-string doc, which tokenizes to one
    empty token on both sides."""
    import math

    from the_movie_database_import_spark.operators.ranking import (
        QUANT,
        bm25_scores,
    )

    terms = ["a", "ccc"]
    k1, b = 1.2, 0.75
    toks = {i: t.split(" ") for i, t in enumerate(texts)}
    n_docs = len(toks)
    sum_dl = sum(len(v) for v in toks.values())
    avgdl = sum_dl / n_docs
    expected = {}
    for i, tv in toks.items():
        score_q = 0
        for term in terms:
            tf = sum(1 for x in tv if x == term)
            if tf == 0:
                continue
            df = sum(1 for v in toks.values() if term in v)
            idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            sat = (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * (len(tv) / avgdl))
            )
            score_q += math.floor(QUANT * (idf * sat))
        expected[i] = score_q
    df_in = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["score_q"] for r in bm25_scores(df_in, terms).collect()
    }
    assert got == expected


_change_sets = st.tuples(
    st.dictionaries(st.integers(0, 9), st.text("xy", max_size=2), max_size=8),
    st.dictionaries(st.integers(0, 9), st.text("xy", max_size=2), max_size=5),
    st.sets(st.integers(0, 9), max_size=5),
)


@SETTINGS
@given(chg=_change_sets)
def test_apply_delta_matches_dict_merge(spark, chg):
    """apply_delta == the dict model: delete, then upsert (upsert wins over
    delete on the same id because its id is re-inserted), over random
    overlapping snapshots/feeds including empty frames."""
    snap_d, ups_d, dels = chg
    from the_movie_database_import_spark.operators.delta import apply_delta

    expected = dict(snap_d)
    for k in dels:
        expected.pop(k, None)
    for k in set(ups_d):
        expected.pop(k, None)
    expected.update(ups_d)

    schema = "doc_id long, text string"
    snap = spark.createDataFrame(list(snap_d.items()), schema)
    ups = spark.createDataFrame(list(ups_d.items()), schema)
    del_df = spark.createDataFrame([(k,) for k in dels], "doc_id long")
    got = {
        r["doc_id"]: r["text"]
        for r in apply_delta(snap, ups, del_df).collect()
    }
    assert got == expected


# --------------------------------------------------- r08 sequential ops


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 4),                      # key
            st.integers(0, 10**6),                  # order
            st.one_of(st.none(), st.text("ab", min_size=1, max_size=3)),
        ),
        min_size=1,
        max_size=40,
    )
)
@SETTINGS
def test_golden_record_matches_fold_model(spark, rows):
    """Survivorship == a per-key last-non-null fold over (order, idx)
    order, for arbitrary sparse logs including all-NULL keys, duplicate
    orders (tie broken by row index), and single-row keys."""
    from the_movie_database_import_spark.operators.delta import golden_record

    data = [(k, o, i, v) for i, (k, o, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, o long, i long, v string")
    got = {
        r["k"]: (r["n_versions"], r["v"])
        for r in golden_record(df, "k", ["o", "i"], ["v"]).collect()
    }
    want: dict[int, tuple[int, str | None]] = {}
    for k, o, i, v in sorted(data, key=lambda t: (t[0], t[1], t[2])):
        n, cur = want.get(k, (0, None))
        want[k] = (n + 1, v if v is not None else cur)
    assert got == want


@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=500, allow_nan=False),
        min_size=1,
        max_size=60,
    ),
    target=st.sampled_from([0.0, 50.0]),
    slack=st.sampled_from([0.0, 10.0]),
)
@SETTINGS
def test_cusum_closed_form_equals_fold_on_random_series(
    spark, vals, target, slack
):
    """The prefix-min closed form == the textbook clamped fold for
    arbitrary series (negative values, zeros, long drifts), exactly —
    both sides integer arithmetic on the same grid."""
    from the_movie_database_import_spark.operators.stats import cusum_per_key

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, t0 + dt.timedelta(seconds=i), float(v))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = cusum_per_key(df, target=target, slack=slack, threshold=1.0).collect()[0]
    import math

    kq = int(target * 1e6) + int(slack * 1e6)
    s = peak = 0
    for v in vals:
        s = max(0, s + (math.floor(v * 1e6) - kq))
        peak = max(peak, s)
    assert got["cusum_final_q"] == s
    assert got["cusum_peak_q"] == peak


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 1000),  # seconds offset (may collide)
            st.floats(min_value=-10, max_value=10, allow_nan=False),
        ),
        min_size=2,
        max_size=40,
    ),
    shift=st.sampled_from([0.0, 3.0, -7.0]),
)
@SETTINGS
def test_twap_shifts_with_constant_offset(spark, rows, shift):
    """TWAP(v + c) == TWAP(v) + c up to the 1e-6 quantization of each
    observation (the time weights don't change) — the invariance any
    time-weighted mean must satisfy."""
    import datetime as dt

    from the_movie_database_import_spark.operators.stats import twap_per_key

    t0 = dt.datetime(2024, 1, 1)
    base = [
        (i, 1, t0 + dt.timedelta(seconds=sec), float(v))
        for i, (sec, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        base, "event_id long, user_id long, ts timestamp, value double"
    )
    df2 = df.withColumn("value", F.col("value") + F.lit(shift))
    a = twap_per_key(df).collect()
    b = twap_per_key(df2).collect()
    assert len(a) == len(b)
    if a:  # all-same-ts inputs yield zero span on both sides
        ta, tb = a[0]["twap"], b[0]["twap"]
        if ta is None:
            assert tb is None
        else:
            # each observation's floor-grid error is < 1e-6 and weights
            # are identical, so the shift error stays under the grid
            assert tb - ta == __import__("pytest").approx(shift, abs=2e-6)


@given(
    ys=st.lists(
        st.one_of(
            st.none(),
            st.floats(min_value=-50, max_value=50, allow_nan=False),
        ),
        min_size=2,
        max_size=30,
    )
)
@SETTINGS
def test_interpolate_linear_bounds_and_idempotence(spark, ys):
    """Filled values lie within [min, max] of their bracketing neighbors
    (linear interpolation never overshoots); observed rows pass through
    bit-unchanged; rows outside any bracket stay NULL."""
    from the_movie_database_import_spark.operators.analytics import (
        interpolate_linear,
    )

    data = [("k", i, y) for i, y in enumerate(ys)]
    df = spark.createDataFrame(data, "k string, x int, y double")
    got = {r["x"]: r["y_interp"] for r in interpolate_linear(df, "k", "x", "y").collect()}
    obs = [(i, y) for i, y in enumerate(ys) if y is not None]
    for i, y in enumerate(ys):
        if y is not None:
            assert got[i] == y  # pass-through, not approx
            continue
        prev = [(x, v) for x, v in obs if x < i]
        nxt = [(x, v) for x, v in obs if x > i]
        if not prev or not nxt:
            assert got[i] is None
        else:
            lo = min(prev[-1][1], nxt[0][1])
            hi = max(prev[-1][1], nxt[0][1])
            assert lo - 1e-9 <= got[i] <= hi + 1e-9


# ---------------------------------------------------------------------------
# ETL conflict policies under sharded input order (VERDICT r08 #8)
# ---------------------------------------------------------------------------
# last-wins is order-dependent BY SPEC (`loader.py:225` iterates file order);
# with a sharded input the pipeline's documented contract is per-shard-order
# determinism: given a fixed shard layout the realized scan order is fixed,
# and the surviving row is exactly the max-_idx row of that scan. Hypothesis
# permutes both the duplicate structure and the shard assignment.

_etl_rows = st.lists(
    st.tuples(st.integers(1, 4), st.integers(0, 99)),  # (movie id, title tag)
    min_size=2,
    max_size=10,
)
_etl_assign = st.lists(st.integers(0, 2), min_size=10, max_size=10)


@given(rows=_etl_rows, assign=_etl_assign)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_last_wins_deterministic_per_shard_layout(spark, rows, assign):
    """For EVERY duplicate structure and EVERY 3-shard assignment: (a) two
    builds on the same layout agree bit-for-bit, (b) the surviving title
    per id is the max-_idx row's title under the realized scan (the
    per-shard-determinism contract), (c) the id SET is layout-invariant."""
    import csv as _csv
    import os
    import tempfile

    from the_movie_database_import_spark.etl.pipeline import (
        MOVIES_SCHEMA,
        build_movie_tables,
    )
    from the_movie_database_import_spark.sources.readers import scan_csv

    cols = MOVIE_COLS_PROP
    base = tempfile.mkdtemp(prefix="etl_shard_prop_")
    sub = os.path.join(base, "movies_metadata.csv")
    os.makedirs(sub)
    shards = {0: [], 1: [], 2: []}
    for i, (mid, tag) in enumerate(rows):
        row = {c: "" for c in cols}
        row.update(id=str(mid), original_title=f"t{mid}_{tag}_{i}")
        shards[assign[i % len(assign)]].append([row[c] for c in cols])
    for s, chunk in shards.items():
        if not chunk:
            continue
        with open(os.path.join(sub, f"part-{s:04d}.csv"), "w", newline="") as f:
            w = _csv.writer(f)
            w.writerow(cols)
            w.writerows(chunk)

    def scan():
        return scan_csv(spark, sub, MOVIES_SCHEMA).withColumn(
            "_idx", F.monotonically_increasing_id()
        )

    def build():
        return {
            r.id: r.title
            for r in build_movie_tables(scan())["movies"].collect()
        }

    got = build()
    assert got == build()  # (a) same layout -> identical result

    realized = sorted(
        scan().selectExpr(
            "try_cast(id AS bigint) AS mid", "_idx", "original_title"
        ).filter("mid IS NOT NULL").collect(),
        key=lambda r: r._idx,
    )
    winner = {}
    for r in realized:
        winner[r.mid] = r.original_title
    assert got == winner  # (b) survivor == max-_idx row

    assert set(got) == {mid for mid, _ in rows}  # (c) id set layout-invariant


MOVIE_COLS_PROP = [
    "adult", "belongs_to_collection", "budget", "genres", "homepage", "id",
    "imdb_id", "original_language", "original_title", "overview", "popularity",
    "poster_path", "production_companies", "production_countries",
    "release_date", "revenue", "runtime", "spoken_languages", "status",
    "tagline", "title", "video", "vote_average", "vote_count",
]


# The conflict policies vs a dict model of the reference's loops: a name is
# registered by the first occurrence (`if k not in d: d[k] = name`,
# `loader.py:147-148`), a movie's row by the last row (credits: the last
# non-empty crew and cast, `loader.py:256-276`), keywords union their movie
# sets (`loader.py:302-309`). Four rows over three movie ids always repeat
# one; three ids per dimension repeat under other or NULL names; crew may
# lack a job, and a last credits row with an empty cast and a job-less crew
# follows every example.

_dim_name = st.sampled_from(["a", "b", "O'Brien", None])
_id_names = lambda ids: st.lists(  # noqa: E731
    st.fixed_dictionaries({"id": st.sampled_from(ids), "name": _dim_name}), max_size=3
)
_iso_names = lambda key, isos: st.lists(  # noqa: E731
    st.fixed_dictionaries({key: st.sampled_from(isos), "name": _dim_name}), max_size=3
)
_crew = st.lists(
    st.fixed_dictionaries(
        {"id": st.sampled_from([100, 101, 200]), "name": _dim_name},
        optional={"job": st.sampled_from(["Director", "Grip"])},
    ),
    max_size=3,
)
_cast = st.lists(
    st.fixed_dictionaries({
        "id": st.sampled_from([100, 200, 201]), "name": _dim_name,
        "order": st.integers(0, 2),
    }),
    max_size=3,
)
_movie_ids = st.integers(1, 3)
_policy_inputs = st.fixed_dictionaries({
    "movies": st.lists(st.fixed_dictionaries({
        "id": _movie_ids,
        "genres": _id_names([10, 11, 12]),
        "production_companies": _id_names([20, 21, 22]),
        "belongs_to_collection": st.none() | st.fixed_dictionaries(
            {"id": st.sampled_from([30, 31]), "name": _dim_name}),
        "original_language": st.sampled_from(["en", "fr", "it"]),
        "spoken_languages": _iso_names("iso_639_1", ["en", "fr", "de"]),
        "production_countries": _iso_names("iso_3166_1", ["US", "DE", "FR"]),
    }), min_size=4, max_size=6),
    "credits": st.lists(st.fixed_dictionaries(
        {"id": _movie_ids, "crew": _crew, "cast": _cast}), min_size=4, max_size=6),
    "keywords": st.lists(st.fixed_dictionaries(
        {"id": _movie_ids, "keywords": _id_names([900, 901, 902])}), min_size=4, max_size=6),
})


def _policy_model(movies, credits, keywords):
    """The dimension and bridge tables, one row at a time, as sets."""
    def first(d, k, name):
        if k not in d:
            d[k] = name

    def first_named(d, k, name):
        if name is not None and k not in d:
            d[k] = name

    genres, companies, collections, lang_names, country_names = {}, {}, {}, {}, {}
    isos, codes, last = set(), set(), {}
    for r in movies:
        last[r["id"]] = r
        for g in r["genres"]:
            first(genres, g["id"], g["name"])
        for c in r["production_companies"]:
            first(companies, c["id"], c["name"])
        if r["belongs_to_collection"]:
            c = r["belongs_to_collection"]
            first(collections, c["id"], c["name"])
        isos.add(r["original_language"])
        for s in r["spoken_languages"]:
            isos.add(s["iso_639_1"])
            first_named(lang_names, s["iso_639_1"], s["name"])
        for c in r["production_countries"]:
            codes.add(c["iso_3166_1"])
            first_named(country_names, c["iso_3166_1"], c["name"])
    lang_id = {iso: i + 1 for i, iso in enumerate(sorted(isos))}
    country_id = {c: i + 1 for i, c in enumerate(sorted(codes))}

    persons, crew_of, cast_of = {}, {}, {}
    for r in credits:
        for p in r["crew"] + r["cast"]:
            first(persons, p["id"], p["name"])
        if any("job" in p for p in r["crew"]):
            crew_of[r["id"]] = r["crew"]
        if r["cast"]:
            cast_of[r["id"]] = r["cast"]

    kw_names, movie_kw = {}, set()
    for r in keywords:
        for k in r["keywords"]:
            first(kw_names, k["id"], k["name"])
            movie_kw.add((r["id"], k["id"]))

    return {
        "genres": set(genres.items()),
        "production_companies": set(companies.items()),
        "collections": set(collections.items()),
        "languages": {(lang_id[i], i, lang_names.get(i)) for i in isos},
        "countries": {(country_id[c], c, country_names.get(c)) for c in codes},
        "movies_genres": {(m, g["id"]) for m, r in last.items() for g in r["genres"]},
        "movies_production_companies": {
            (m, c["id"]) for m, r in last.items() for c in r["production_companies"]},
        "spoken_languages": {
            (m, lang_id[s["iso_639_1"]]) for m, r in last.items() for s in r["spoken_languages"]},
        "production_countries": {
            (m, country_id[c["iso_3166_1"]])
            for m, r in last.items() for c in r["production_countries"]},
        "persons": set(persons.items()),
        "directors": {(m, p["id"]) for m, crew in crew_of.items()
                      for p in crew if p.get("job") == "Director"},
        "actors": sorted((p["id"], m, p["order"]) for m, cast in cast_of.items() for p in cast),
        "keywords": set(kw_names.items()),
        "movies_keywords": movie_kw,
    }


@given(data=_policy_inputs)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_conflict_policies_match_dict_model(spark, data):
    """Every dimension and bridge table `build_all_tables` writes equals the
    dict model on generated inputs (`actors` as a sorted list: duplicates
    are kept)."""
    import csv as _csv
    import tempfile

    from the_movie_database_import_spark.etl.pipeline import build_all_tables

    movies, keywords = data["movies"], data["keywords"]
    credits = data["credits"] + [{
        "id": data["credits"][0]["id"], "cast": [], "crew": [{"id": 101, "name": "z"}],
    }]
    with tempfile.TemporaryDirectory(prefix="etl_policy_prop_") as base:
        def write(name, header, rows):
            with open(f"{base}/{name}", "w", newline="") as f:
                w = _csv.writer(f)
                w.writerow(header)
                w.writerows([
                    [repr(v) if isinstance(v, (list, dict)) else "" if v is None else str(v)
                     for v in (r.get(c) for c in header)]
                    for r in rows
                ])

        write("movies_metadata.csv", MOVIE_COLS_PROP, movies)
        write("credits.csv", ["cast", "crew", "id"], credits)
        write("keywords.csv", ["id", "keywords"], keywords)
        write("ratings.csv", ["userId", "movieId", "rating", "timestamp"], [])
        want = _policy_model(movies, credits, keywords)
        out = build_all_tables(spark, base)
        got = {name: [tuple(r) for r in out[name].collect()] for name in want}
    for name, rows in got.items():
        assert (sorted(rows) if name == "actors" else set(rows)) == want[name], name
        assert name == "actors" or len(rows) == len(want[name]), name


# ---------------------------------------------------------------------------
# Snapshot-table protocol vs a list model (r09)
# ---------------------------------------------------------------------------
# The manifest protocol (write/append/compact/vacuum, per-generation time
# travel) must agree with the obvious Python model under ANY op sequence:
# current read == model's current multiset, every surviving historical
# generation reads as its model state, manifest row counts match, and
# vacuum never perturbs the current read.

_snap_ops = st.lists(
    st.one_of(
        st.tuples(st.just("write"), st.integers(1, 6)),
        st.tuples(st.just("append"), st.integers(1, 6)),
        st.tuples(st.just("compact"), st.just(0)),
        st.tuples(st.just("vacuum"), st.just(0)),
        st.tuples(st.just("conflict"), st.integers(1, 6)),
        st.tuples(st.just("restore"), st.integers(0, 10)),
    ),
    min_size=1,
    max_size=5,
)


@given(ops=_snap_ops)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_snapshot_protocol_matches_list_model(spark, ops):
    """Random write/append/compact/vacuum/restore sequences: the committed
    table always equals the model, per-generation states survive until
    their segments are vacuumed, vacuum is invisible to the current read,
    and restore (r11) replays a surviving historical state as a NEW
    generation — or fails loudly leaving the table untouched when the
    target state was reclaimed."""
    import tempfile

    from the_movie_database_import_spark.sources.writers import (
        snapshot_append,
        snapshot_compact,
        snapshot_current,
        snapshot_read,
        snapshot_restore,
        snapshot_vacuum,
        snapshot_write,
    )

    path = tempfile.mkdtemp(prefix="snap_prop_") + "/t"
    model: list[int] = []          # current multiset of ids
    history: dict[int, list[int]] = {}
    vacuumed_before: set[int] = set()
    gen = 0
    next_id = 0

    def frame(n):
        nonlocal next_id
        ids = list(range(next_id, next_id + n))
        next_id += n
        return spark.createDataFrame([(i,) for i in ids], "id long"), ids

    for op, n in ops:
        if op == "write":
            df, ids = frame(n)
            snapshot_write(df, path)
            model = list(ids)
        elif op == "append":
            df, ids = frame(n)
            if gen == 0:
                snapshot_write(df, path)  # append to nothing == first write
                model = list(ids)
            else:
                snapshot_append(df, path)
                model = model + ids
        elif op == "conflict":
            # a STALE committer (base pinned to a generation that is not
            # current) must be rejected and leave the table byte-identical:
            # no new generation, no history entry, same current read
            df, _ = frame(n)
            import pytest as _pytest

            from the_movie_database_import_spark.sources.writers import (
                SnapshotConflictError,
            )

            with _pytest.raises(SnapshotConflictError):
                snapshot_write(df, path, expected_generation=gen + 1)
            cur = snapshot_current(path)
            assert (cur["generation"] if cur else 0) == gen
            if gen:
                got = sorted(
                    r["id"] for r in snapshot_read(spark, path).collect()
                )
                assert got == sorted(model), ("conflict", gen)
            continue
        elif op == "restore":
            if gen == 0:
                continue
            target = 1 + (n % gen)
            try:
                snapshot_restore(path, target)
            except FileNotFoundError:
                # target state's segments were vacuumed: the restore must
                # refuse and leave the table byte-identical
                cur = snapshot_current(path)
                assert cur["generation"] == gen, ("restore-refused", gen)
                got = sorted(
                    r["id"] for r in snapshot_read(spark, path).collect()
                )
                assert got == sorted(model), ("restore-refused", gen)
                continue
            model = list(history[target])
        elif op == "compact":
            if gen == 0:
                continue
            snapshot_compact(spark, path, target_file_bytes=10**9)
        else:
            if gen == 0:
                continue
            # vacuum reclaims files but COMMITS NOTHING: no new generation,
            # no history entry — the current read must be untouched
            vacuumed_before |= set(range(1, gen + 1))
            snapshot_vacuum(path)
            cur = snapshot_current(path)
            assert cur["generation"] == gen and cur["rows"] == len(model)
            got = sorted(
                r["id"] for r in snapshot_read(spark, path).collect()
            )
            assert got == sorted(model), ("vacuum", gen)
            continue
        gen += 1
        history[gen] = list(model)

        cur = snapshot_current(path)
        assert cur["generation"] == gen
        assert cur["rows"] == len(model)
        got = sorted(r["id"] for r in snapshot_read(spark, path).collect())
        assert got == sorted(model), (op, gen)

    # historical generations whose segments were never reclaimed still read
    for g, state in history.items():
        if g == gen or g in vacuumed_before:
            continue
        try:
            old = sorted(
                r["id"]
                for r in snapshot_read(spark, path, at_generation=g).collect()
            )
        except Exception:
            continue  # segments reclaimed by a later vacuum — loud is fine
        assert old == sorted(state), g


# ------------------------------------------------------- heavy hitters


@SETTINGS
@given(
    doc_lens=st.lists(st.integers(5, 30), min_size=3, max_size=12),
    vocab_size=st.integers(3, 40),
    skew=st.sampled_from([1.0, 1.5, 2.5]),
    phi=st.sampled_from([0.004, 0.02, 0.05, 0.1]),
    parts=st.integers(1, 5),
    seed=st.integers(0, 10_000),
)
def test_heavy_hitters_matches_bruteforce_model(
    spark, doc_lens, vocab_size, skew, phi, parts, seed
):
    """Property: for ANY corpus shape (vocab size, Zipf skew, doc
    lengths), phi, and partitioning, the Misra-Gries + exact-recount
    operator emits EXACTLY the brute-force phi-heavy set with exact
    counts — the sketch may differ per partitioning, the output may not.
    Hypothesis hunts the boundary cases a fixed fixture misses (counts
    exactly AT ceil(phi*N), vocab smaller than capacity, single-token
    corpora, one-doc partitions). The model's threshold is the same
    EXACT-rational rule the operator adopted in r11 (ADVICE r10:
    count·den >= num·N with phi snapped to num/den, den <= 1e6 — for
    integer counts this equals count >= ceil of the exact product,
    never the double-rounded ceil that shifts by one for phi values
    whose binary double rounds up, e.g. 0.004)."""
    import random
    from collections import Counter
    from fractions import Fraction

    from the_movie_database_import_spark.operators.vocab import heavy_hitters

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(vocab_size)]
    weights = [1.0 / (i + 1) ** skew for i in range(vocab_size)]
    docs, stream = [], []
    for d, length in enumerate(doc_lens):
        toks = rng.choices(vocab, weights=weights, k=length)
        stream.extend(toks)
        docs.append((d, " ".join(toks)))
    cnt = Counter(stream)
    fr = Fraction(phi).limit_denominator(1_000_000)
    want = {
        t: c
        for t, c in cnt.items()
        if c * fr.denominator >= fr.numerator * len(stream)
    }

    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(
        parts
    )
    got = {
        r["token"]: r["n_occurrences"]
        for r in heavy_hitters(df, phi=phi).collect()
    }
    assert got == want, (phi, fr, len(stream))


@SETTINGS
@given(
    base=st.lists(st.integers(-5, 5), min_size=1, max_size=25),
    cur=st.lists(st.integers(-5, 5), min_size=1, max_size=25),
    parts=st.integers(1, 4),
)
def test_ks_and_mwu_match_python_models(spark, base, cur, parts):
    """Property: over ANY two integer-valued samples (heavy ties by
    construction — values drawn from just 11 levels) and any
    partitioning, ks_drift and mann_whitney_u equal their independent
    python models EXACTLY (the 128-bit integer lanes leave no room for
    partitioning or tie-order effects)."""
    import math
    from collections import Counter

    from the_movie_database_import_spark.operators.stats import (
        ks_drift,
        mann_whitney_u,
    )

    rows = [("k", float(v), True) for v in base] + [
        ("k", float(v), False) for v in cur
    ]
    df = spark.createDataFrame(
        rows, "k string, v double, is_base boolean"
    ).repartition(parts)

    nb, nc = len(base), len(cur)
    pooled = sorted(set(base) | set(cur))
    cb = Counter(base)
    cc = Counter(cur)

    # KS model
    d_num, cum_b, cum_c = 0, 0, 0
    for v in pooled:
        cum_b += cb.get(v, 0)
        cum_c += cc.get(v, 0)
        d_num = max(d_num, abs(cum_b * nc - cum_c * nb))
    ks = ks_drift(df, "k", "v", "is_base").collect()[0]
    assert (ks["n_baseline"], ks["n_current"]) == (nb, nc)
    assert ks["ks_d"] == round(d_num / (nb * nc), 6)

    # MWU model (doubled ranks)
    prev, r2, t3 = 0, 0, 0
    for v in pooled:
        c = cb.get(v, 0) + cc.get(v, 0)
        r2 += cc.get(v, 0) * (2 * prev + c + 1)
        t3 += c * c * c - c
        prev += c
    n = nb + nc
    u = (r2 - nc * (nc + 1)) / 2.0
    var = nb * nc / 12.0 * ((n + 1) - t3 / (n * (n - 1))) if n > 1 else 0.0
    z = (
        round((r2 - nc * (nc + 1) - nb * nc) / (2.0 * math.sqrt(var)), 6)
        if var > 0
        else None
    )
    mw = mann_whitney_u(df, "k", "v", "is_base").collect()[0]
    assert (mw["n_baseline"], mw["n_current"]) == (nb, nc)
    assert mw["u_current"] == u
    assert mw["z"] == z


# ---------------------------------------------------------------------------
# Cross-operator incremental side-table interleaving (r13, VERDICT r12 #7)
# ---------------------------------------------------------------------------
# The per-family composition identities are each pinned in isolation (vocab
# k-merge == one recount; minhash old-union-new; span cover rule). The
# untested axis was INTERLEAVING: three side tables (vocab counts, band
# signatures, gram digests) maintained under one shared tempdir root while
# their ingest steps arrive in arbitrary relative order. Every final state
# must be order-invariant and equal the full-batch recompute: vocab rows
# merge by exact integer sum, band signatures are pure functions of each
# doc's token set, gram digests are a set union — and a pair {a, b} is
# emitted by the minhash probe exactly when the LATER of the two is
# ingested, so the union of emitted pairs equals the one-shot pair set.

_docs_tokens = st.lists(
    st.lists(st.sampled_from(["w0", "w1", "w2", "w3", "w4", "w5"]),
             min_size=4, max_size=10),
    min_size=6,
    max_size=9,
)


@given(
    token_lists=_docs_tokens,
    data=st.data(),
)
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_incremental_side_tables_interleave_to_full_recompute(
    spark, token_lists, data
):
    """Random batch split + random interleaving of (operator, batch) steps
    over a SHARED tempdir root: the three persisted side tables and the
    union of emitted near-dup pairs must equal the full-batch recompute
    bit-for-bit — no ordering, no neighbor table, no shared-root effect
    may leak into any family's state."""
    import shutil
    import tempfile

    from the_movie_database_import_spark.operators.dedup import (
        dedup_substring_spans_incremental,
        minhash_band_signatures,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        substring_gram_digests,
    )
    from the_movie_database_import_spark.operators.vocab import (
        vocab_merge_incremental,
    )
    from the_movie_database_import_spark.sources.writers import (
        snapshot_append,
        snapshot_current,
        snapshot_read,
        snapshot_write,
    )

    texts = [" ".join(toks) for toks in token_lists]
    n_batches = 3
    # docs 0..2 anchor batches 0..2 so every batch is nonempty; the rest
    # are assigned by the strategy
    assign = [i % n_batches for i in range(3)] + [
        data.draw(st.integers(0, n_batches - 1)) for _ in range(len(texts) - 3)
    ]
    batches = [
        [(i, texts[i]) for i in range(len(texts)) if assign[i] == b]
        for b in range(n_batches)
    ]
    steps = data.draw(
        st.permutations(
            [(op, b) for op in ("vocab", "minhash", "grams")
             for b in range(n_batches)]
        )
    )

    root = tempfile.mkdtemp(prefix="interleave_prop_")
    vocab_path = root + "/vocab"
    bands_path = root + "/bands"
    grams_path = root + "/grams"
    K = 4
    emitted_pairs: set[tuple[int, int]] = set()
    try:
        for op, b in steps:
            df = spark.createDataFrame(batches[b], "doc_id long, text string")
            if op == "vocab":
                vocab_merge_incremental(df, vocab_path)
            elif op == "minhash":
                if snapshot_current(bands_path) is None:
                    pairs = minhash_lsh_pairs(df, threshold=0.5)
                    snapshot_write(
                        minhash_band_signatures(df, threshold=0.5), bands_path
                    )
                else:
                    seen = snapshot_read(spark, bands_path)
                    pairs = minhash_lsh_pairs_incremental(
                        df, seen, threshold=0.5
                    )
                    snapshot_append(
                        minhash_band_signatures(df, threshold=0.5), bands_path
                    )
                emitted_pairs |= {
                    (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))
                    for r in pairs.select("doc_a", "doc_b").collect()
                }
            else:
                if snapshot_current(grams_path) is None:
                    snapshot_write(substring_gram_digests(df, k=K), grams_path)
                else:
                    seen = snapshot_read(spark, grams_path)
                    # exercise the probe against the shared-root state
                    dedup_substring_spans_incremental(
                        df, seen, k=K, dedup_seen=True
                    ).count()
                    snapshot_append(substring_gram_digests(df, k=K), grams_path)

        all_docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )

        # vocab: interleaved merges == one recount into a fresh table
        full_vocab_path = root + "/vocab_full"
        vocab_merge_incremental(all_docs, full_vocab_path)
        as_rows = lambda p: sorted(  # noqa: E731
            tuple(r) for r in snapshot_read(spark, p).collect()
        )
        assert as_rows(vocab_path) == as_rows(full_vocab_path)

        # bands: appended side table == one-shot signatures over all docs
        got_bands = sorted(
            (r.doc_id, r.n_toks, tuple(r.th), tuple(r.bands))
            for r in snapshot_read(spark, bands_path).collect()
        )
        want_bands = sorted(
            (r.doc_id, r.n_toks, tuple(r.th), tuple(r.bands))
            for r in minhash_band_signatures(all_docs, threshold=0.5).collect()
        )
        assert got_bands == want_bands

        # pair union == the one-shot pair set
        want_pairs = {
            (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))
            for r in minhash_lsh_pairs(all_docs, threshold=0.5)
            .select("doc_a", "doc_b")
            .collect()
        }
        assert emitted_pairs == want_pairs

        # grams: distinct digest set == one-shot digest set
        got_grams = {
            r.gram_digest
            for r in snapshot_read(spark, grams_path).distinct().collect()
        }
        want_grams = {
            r.gram_digest
            for r in substring_gram_digests(all_docs, k=K).collect()
        }
        assert got_grams == want_grams
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Word-soup corpora over a tiny alphabet so near-identical token sets are
# common and threshold boundaries (jaccard exactly num/den) get hit.
_soup_word = st.sampled_from(["a", "b", "c", "d", "e"])
_soup_text = st.lists(_soup_word, min_size=1, max_size=8).map(" ".join)


@SETTINGS
@given(
    texts=st.lists(_soup_text, min_size=2, max_size=14),
    threshold=st.sampled_from([0.34, 0.5, 2 / 3, 0.75, 0.8, 1.0]),
)
def test_setjoin_prefix_matches_python_model(spark, texts, threshold):
    """set_similarity_join_prefix vs an independent Python all-pairs model:
    the prefix filter must be COMPLETE (no missing pair) and the verify
    EXACT (no extra pair, exact jaccard values) at every threshold,
    including thresholds that are not binary-representable and corpora
    dense with boundary-exact pairs."""
    from fractions import Fraction

    from the_movie_database_import_spark.operators.dedup import (
        set_similarity_join_prefix,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in set_similarity_join_prefix(docs, threshold=threshold).collect()
    }

    fr = Fraction(threshold).limit_denominator(1_000_000)
    sets = {i: frozenset(t.split(" ")) for i, t in rows}
    expected = {}
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if inter * fr.denominator >= fr.numerator * union:
                    expected[(a, b)] = inter / union
    assert got == expected
