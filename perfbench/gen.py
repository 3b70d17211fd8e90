"""Seeded input generators for the benchmark.

Two corpora, both written as files the program reads the way it reads
real inputs:

- ``write_warehouse``: the TPC-H-shaped star schema plus ``events`` and
  ``documents`` that the registry entries read (same table names, column
  names, physical types and value domains as the test corpus described
  in ``TESTDATA.md``). Row counts scale with ``sf`` like that corpus
  (lineitem = 6,000,000 x sf).
- ``write_movielens``: MovieLens-shaped ``movies.csv`` and
  ``ratings.csv`` plus an OMDb-shaped lookup parquet
  (``schemas.OMDB_LOOKUP``), together with the values the ETL must
  produce from them (``MovieLensExpect``), so the benchmark can check
  the published snapshot row by row.

Everything is drawn from one ``numpy.random.Generator`` per corpus, so
the same seed gives byte-identical files. The module imports nothing
from the program.
"""

from __future__ import annotations

import csv
import os
import unicodedata
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# warehouse
# ---------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "red", "small", "big", "green", "old")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ("en", "de", "es", "fr", "zh")
DOC_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
# The warehouse is the same for every --seed: the registry workloads vary
# only the op order with the seed, so their outputs can be pinned.
WAREHOUSE_SEED = 42
WAREHOUSE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
)


def _days(start: str, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + offsets.astype("timedelta64[D]")


def _write(table: dict[str, pa.Array], path: str) -> None:
    pq.write_table(pa.table(table), path)


def write_warehouse(out_dir: str, sf: float) -> dict[str, int]:
    """Write one parquet file per table under ``out_dir``; returns row
    counts by table."""
    rng = np.random.default_rng(WAREHOUSE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 50)
    n_li = max(int(6_000_000 * sf), 200)
    n_ev = max(int(1_000_000 * sf), 200)
    n_doc = max(int(50_000 * sf), 50)
    n_user = max(int(15_000 * sf), 10)
    i32, i64 = pa.int32(), pa.int64()

    _write({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    }, f"{out_dir}/region.parquet")
    _write({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    }, f"{out_dir}/nation.parquet")

    def acctbal(n: int) -> pa.Array:
        return pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2))

    _write({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": acctbal(n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    }, f"{out_dir}/customer.parquet")
    _write({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": acctbal(n_supp),
    }, f"{out_dir}/supplier.parquet")

    pk = np.arange(n_part)
    _write({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
            )]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    }, f"{out_dir}/part.parquet")

    _write({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": pa.array(_days("1995-01-01", rng.integers(0, 2404, n_ord))),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    }, f"{out_dir}/orders.parquet")

    _write({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_li)),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_li)),
        "l_shipdate": pa.array(_days("1995-01-02", rng.integers(0, 2499, n_li))),
    }, f"{out_dir}/lineitem.parquet")

    # events: one arrival stream over 30 days, exponential gaps
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev)
    ts_us = np.minimum(np.cumsum(gaps), 30 * 86_400e6 - 1).astype(np.int64)
    _write({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }, f"{out_dir}/events.parquet")

    # documents: random word bags; 5% are an earlier document plus a
    # " dup" suffix, the near-duplicates the dedup family must find
    texts: list[str] = []
    lengths = rng.integers(10, 100, n_doc)
    is_dup = rng.random(n_doc) < 0.05
    for i in range(n_doc):
        if i and is_dup[i]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, lengths[i])))
    _write({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(DOC_LANGS, n_doc, p=DOC_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    }, f"{out_dir}/documents.parquet")

    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_li, "events": n_ev, "documents": n_doc,
    }


# ---------------------------------------------------------------------------
# MovieLens
# ---------------------------------------------------------------------------

GENRES = (
    "Action", "Adventure", "Animation", "Children", "Comedy", "Crime",
    "Documentary", "Drama", "Fantasy", "Film-Noir", "Horror", "IMAX",
    "Musical", "Mystery", "Romance", "Sci-Fi", "Thriller", "War", "Western",
)
NO_GENRES = "(no genres listed)"
# Title words hold no article, no keyword the alternate-title cleaner
# looks for as a whole word, and no diacritic, so every cleaned title is
# unique and predictable.
_W1 = (
    "Silent Golden Broken Hidden Crimson Frozen Burning Lonely Secret "
    "Wild Dark Bright Final Lost Quiet Savage Gentle Iron Silver Velvet "
    "Electric Midnight Northern Southern Distant Hollow Brave Sacred "
    "Wicked Restless Endless Shallow Rising Fallen Pale Stolen Twisted "
    "Bitter Sweet Hungry Tender Rapid Ancient Modern Urban Rural Lucky "
    "Cursed Royal Humble"
).split()
_W2 = (
    "River Mountain Garden Harbor Forest Desert Island Valley Bridge "
    "Tower Castle Station Highway Market Ocean Canyon Meadow Prairie "
    "Lagoon Village Kingdom Empire Frontier Horizon Shadow Mirror Engine "
    "Lantern Compass Anchor Harvest Winter Summer Autumn Spring Thunder "
    "Storm Ember Crown Dagger Arrow Falcon Tiger Wolf Raven Serpent "
    "Phoenix Dragon Knight Prophet"
).split()
_W3 = (
    "Story Affair Legacy Journey Promise Mystery Requiem Ballad Chronicle "
    "Gambit Protocol Paradox Prophecy Rhapsody Rebellion Redemption "
    "Reckoning Revival Rumble Saga Secrets Sonata Symphony Tango Tales "
    "Trial Triumph Union Vendetta Verdict Voyage Waltz Witness Wonder "
    "Escape Exodus Fable Frenzy Fury Games"
).split()
_DIACRITIC = ("Amélie", "Noël", "Señor", "Über", "Crème", "Façade", "Mañana", "Déjà", "Cité", "Brûlée")
_ARTICLES = ("The", "A", "An")
_PARTS = ("II", "III", "IV", "V")
# title shape -> share of movies
_SHAPES = {
    "plain": 0.50, "article": 0.12, "aka": 0.08, "diacritic": 0.10,
    "no_year": 0.05, "comma": 0.10, "diacritic_translit": 0.05,
}
_INVALID_RATINGS = (-1.0, 5.5, 6.0, 10.0)
_HALF_STARS = tuple(np.arange(1, 11) / 2.0)


def _strip_diacritics(s: str) -> str:
    return "".join(
        ch for ch in unicodedata.normalize("NFKD", s) if not unicodedata.combining(ch)
    )


@dataclass
class MovieLensExpect:
    """What a correct ETL publishes from the generated files."""

    movies: int
    ratings: int  # valid ratings; the out-of-range ones are dropped
    genres: int
    movie_genres: int
    invalid_ratings: int
    # movie_id -> (title, release_year, director, box_office_dollars,
    #              runtime_mins, imdb_rating)
    rows: dict[int, tuple] = field(repr=False)
    input_bytes: int = 0


def write_movielens(
    out_dir: str, seed: int, n_movies: int, n_ratings: int
) -> MovieLensExpect:
    """Write ``movies.csv``, ``ratings.csv`` and ``lookup.parquet``."""
    if n_movies > len(_W1) * len(_W2) * len(_W3):
        raise ValueError(f"n_movies={n_movies} exceeds the unique-title space")
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    ids = np.sort(rng.choice(np.arange(1, 20 * n_movies), n_movies, replace=False))
    cores = rng.choice(len(_W1) * len(_W2) * len(_W3), n_movies, replace=False)
    shapes = rng.choice(list(_SHAPES), n_movies, p=list(_SHAPES.values()))
    years = rng.integers(1920, 2019, n_movies)
    directors = [f"Director {k}" for k in range(max(n_movies // 6, 3))]

    movie_rows: list[tuple[int, str, str]] = []
    lookup: list[tuple] = []
    expect_rows: dict[int, tuple] = {}
    genre_pairs = 0
    used_genres: set[str] = set()
    for i in range(n_movies):
        mid = int(ids[i])
        c = int(cores[i])
        core = f"{_W1[c % len(_W1)]} {_W2[c // len(_W1) % len(_W2)]} " \
               f"{_W3[c // (len(_W1) * len(_W2))]}"
        year: int | None = int(years[i])
        shape = shapes[i]
        # (raw title, cleaned title, lookup key that is the FIRST title
        # candidate, lookup key that is a LATER candidate or None)
        if shape == "article":
            art = _ARTICLES[int(rng.integers(0, 3))]
            raw, clean = f"{core}, {art}", f"{art} {core}"
            first, later = clean, None
        elif shape == "aka":
            alt = f"{_W2[int(rng.integers(0, len(_W2)))]} {_W3[int(rng.integers(0, len(_W3)))]}"
            raw, clean = f"{core} (a.k.a. {alt})", core
            first, later = raw, core
        elif shape in ("diacritic", "diacritic_translit"):
            word = _DIACRITIC[int(rng.integers(0, len(_DIACRITIC)))]
            raw = f"{word} {core}"
            clean = _strip_diacritics(raw)
            first, later = raw, clean
        elif shape == "comma":
            raw = clean = f"{core}, Part {_PARTS[int(rng.integers(0, len(_PARTS)))]}"
            first, later = raw, None
        else:
            raw = clean = first = core
            later = None
        if shape == "no_year":
            year = None
            title = raw
        else:
            title = f"{raw} ({year})"

        if rng.random() < 0.02:
            genres = NO_GENRES
        else:
            k = int(rng.integers(1, 5))
            picked = sorted(rng.choice(GENRES, k, replace=False))
            used_genres.update(picked)
            genre_pairs += k
            genres = "|".join(picked)
        movie_rows.append((mid, title, genres))

        # enrichment: ~60% of movies match the lookup, by the key and
        # year variant the title shape calls for
        director = "Unknown"
        box = runtime = rating = None
        u = rng.random()
        if u < 0.6:
            director = (
                "N/A" if rng.random() < 0.05
                else directors[int(rng.integers(0, len(directors)))]
            )
            dollars = int(rng.integers(1, 500)) * 100_000
            box_raw = "N/A" if rng.random() < 0.2 else f"${dollars:,}"
            box = None if box_raw == "N/A" else dollars
            minutes = int(rng.integers(70, 200))
            runtime_raw = "N/A" if rng.random() < 0.1 else (
                f"{minutes} mins" if rng.random() < 0.2 else f"{minutes} min"
            )
            runtime = None if runtime_raw == "N/A" else minutes
            rating = None if rng.random() < 0.1 else round(float(rng.uniform(1, 10)), 1)
            if shape == "diacritic_translit" or (shape == "aka" and u < 0.3):
                key = later  # matched only by a later candidate
            else:
                key = first
            with_year = year is not None and rng.random() < 0.7
            row = (key, year if with_year else None, f"tt{mid:08d}", "A plot.",
                   director, box_raw, runtime_raw, rating)
            lookup.append(row)
            if with_year and shape == "plain" and rng.random() < 0.3:
                # a row for the same key under another year never matches
                lookup.append((key, year + 1, f"tx{mid:08d}", "Other plot.",
                               "Decoy Director", "N/A", "N/A", None))
        expect_rows[mid] = (clean, year, director, box, runtime, rating)

    # ratings: skewed popularity over 90% of movies; a few movies rated
    # only once or twice, all 5.0 (the Q1 tie case); a small share of
    # out-of-range ratings that validate_ratings must drop
    n_users = max(n_ratings // 150, 20)
    rated = rng.choice(ids, max(int(0.9 * n_movies), 1), replace=False)
    weights = 1.0 / np.arange(1, len(rated) + 1) ** 0.8
    n_tie = min(5, len(rated))
    tie_ids = rated[-n_tie:]
    n_main = n_ratings - 2 * n_tie
    movie_col = np.concatenate([
        rng.choice(rated[:-n_tie], n_main, p=weights[:-n_tie] / weights[:-n_tie].sum()),
        np.repeat(tie_ids, 2),
    ])
    rating_col = np.concatenate([
        rng.choice(_HALF_STARS, n_main), np.full(2 * n_tie, 5.0)
    ])
    bad = rng.random(n_ratings) < 0.005
    bad[n_main:] = False
    rating_col[bad] = rng.choice(_INVALID_RATINGS, int(bad.sum()))
    user_col = rng.integers(1, n_users + 1, n_ratings)
    ts_col = rng.integers(828_124_615, 1_537_799_251, n_ratings)

    movies_csv = os.path.join(out_dir, "movies.csv")
    ratings_csv = os.path.join(out_dir, "ratings.csv")
    with open(movies_csv, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(("movieId", "title", "genres"))
        w.writerows(movie_rows)
    with open(ratings_csv, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(("userId", "movieId", "rating", "timestamp"))
        w.writerows(zip(user_col.tolist(), movie_col.tolist(),
                        rating_col.tolist(), ts_col.tolist()))

    cols = list(zip(*lookup)) if lookup else [()] * 8
    pq.write_table(pa.table({
        "lookup_title": pa.array(cols[0], pa.string()),
        "lookup_year": pa.array(cols[1], pa.int32()),
        "imdb_id": pa.array(cols[2], pa.string()),
        "plot": pa.array(cols[3], pa.string()),
        "director": pa.array(cols[4], pa.string()),
        "box_office": pa.array(cols[5], pa.string()),
        "runtime": pa.array(cols[6], pa.string()),
        "imdb_rating": pa.array(cols[7], pa.float64()),
    }), os.path.join(out_dir, "lookup.parquet"))

    n_bad = int(bad.sum())
    return MovieLensExpect(
        movies=n_movies,
        ratings=n_ratings - n_bad,
        genres=len(used_genres),
        movie_genres=genre_pairs,
        invalid_ratings=n_bad,
        rows=expect_rows,
        input_bytes=os.path.getsize(movies_csv) + os.path.getsize(ratings_csv),
    )
