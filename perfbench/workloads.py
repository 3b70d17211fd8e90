"""The benchmark's workloads: what one pass runs, how the session is
warmed up before timing, and how outputs are checked.

Workload names are stable; other documents cite them.

- ``movielens_etl``: the reference's own job and the only workload that
  writes (publish with ``load_movielens``, open the snapshot, run movie
  queries q1-q4).
- ``relational_short``: short oracled registry entries, where per-query
  fixed cost (driver planning, job and shuffle floors) sets the time.
- ``graph_fixpoint``: iterative graph entries that launch tens of Spark
  jobs per query, almost all of it inside the builder.
- ``similarity_heavy``: the entries bound by executor CPU and shuffle.

See ``perfbench/README.md`` for why each was chosen.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import duckdb

from movie_data_pipeline_spark.plans import graphs, pipeline
from movie_data_pipeline_spark.plans import movie_queries as mq
from movie_data_pipeline_spark.plans.analytics import QUERIES
from movie_data_pipeline_spark.sources import snapshot
from movie_data_pipeline_spark.sources.snapshot import read_manifest, read_snapshot_table
from perfbench import gen
from tools.oracle_check import normalize

DIGESTS = Path(__file__).resolve().parent / "digests.json"
# the warehouse scale of the registry workloads; see README "Sizes"
REGISTRY_SF = 0.01
# similarity_heavy runs larger, so that executor CPU and shuffle, not
# the per-job floor, set its time
SIMILARITY_SF = 0.05
# movielens_etl input size: about the reference corpus (9,742 movies,
# 100,836 ratings)
ML_MOVIES = 10_000
ML_RATINGS = 100_000
MOVIE_TABLES = ("movies", "genres", "movie_genres", "ratings")
MOVIE_QUERIES = {
    "movie_queries.q1": (lambda t: mq.q1_highest_rated_movie(t["movies"], t["ratings"]),
                         mq.Q1_SQL),
    "movie_queries.q2": (lambda t: mq.q2_top_genres(
        t["genres"], t["movie_genres"], t["movies"], t["ratings"]), mq.Q2_SQL),
    "movie_queries.q3": (lambda t: mq.q3_most_prolific_director(t["movies"]), mq.Q3_SQL),
    "movie_queries.q4": (lambda t: mq.q4_avg_rating_per_year(t["movies"], t["ratings"]),
                         mq.Q4_SQL),
}


@dataclass
class Op:
    """One timed operation: ``build`` makes the result frame (or does
    all the work and returns None); a frame is then run into a sink."""

    name: str
    build: Callable[[], object]
    span: str = "builder"  # span and job-group phase of the build call


def _compare(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """The oracle comparison of ``tools/oracle_check.py``: column names,
    row count, then order-insensitive normalized values."""
    if [c.lower() for c in got_cols] != [c.lower() for c in want_cols]:
        return f"columns {got_cols} != {want_cols}"
    if len(got_rows) != len(want_rows):
        return f"rows {len(got_rows)} != {len(want_rows)}"
    a, b = normalize(got_rows), normalize(want_rows)
    if a != b:
        return f"values differ, first: {next(x for x in zip(a, b) if x[0] != x[1])}"
    return None


def digest(rows) -> str:
    return hashlib.sha256("\n".join(normalize(rows)).encode()).hexdigest()


@dataclass
class RegistryWorkload:
    """A list of registry entries run at one warehouse scale.

    ``checks`` maps an entry to how its output is checked: ``"oracle"``
    (its DuckDB SQL twin), ``"digest"`` (a pinned order-insensitive
    digest in ``digests.json``), or the name of a verification-twin
    registry entry that is run and oracled in its place."""

    name: str
    checks: dict[str, str]
    sf: float = REGISTRY_SF
    memo: bool = False
    sf_dir: str = ""

    @property
    def entries(self) -> list[str]:
        return list(self.checks)

    def prepare(self, work: Path, seed: int) -> None:
        self.sf_dir = str(work / f"sf{self.sf}")
        gen.write_warehouse(self.sf_dir, self.sf)

    def op(self, name: str) -> Op:
        builder = QUERIES[name][0]
        return Op(name, lambda: builder(self.spark, self.sf_dir))

    def setup(self, h) -> dict[str, object]:
        """Memo build, then the untimed codegen pass, which collects
        every entry's rows for the output check. Its first op is the
        warm-up op: it pays the session's first-query costs."""
        self.spark = h.spark
        if self.memo:
            # the trade-pairs parquet memo the graph entries share: built
            # here, so its cost lands in setup_s and not in the first pass
            h.run_op(Op("trade_pairs_memo",
                        lambda: graphs._trade_pairs_weighted(self.spark, self.sf_dir)),
                     setup=True)
        return {name: h.run_op(self.op(name), setup=True, collect=True)
                for name in self.entries}

    def pass_ops(self, rng: random.Random) -> list[Op]:
        return [self.op(n) for n in rng.sample(self.entries, len(self.entries))]

    def check(self, h, outputs: dict[str, object]) -> dict[str, str]:
        con = duckdb.connect()
        for t in gen.WAREHOUSE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        pinned = json.loads(DIGESTS.read_text()).get(str(self.sf), {})
        problems: dict[str, str] = {}
        for name, how in self.checks.items():
            out = outputs.get(name)
            if out is None:
                problems[name] = "raised during the codegen pass"
                continue
            cols, rows = out
            if how == "digest":
                got = digest(rows)
                if pinned.get(name) != got:
                    problems[name] = f"digest {got} != pinned {pinned.get(name)}"
                continue
            target = name
            if how != "oracle":
                target = how
                twin = h.run_op(self.op(how), setup=True, collect=True)
                if twin is None:
                    problems[name] = f"twin {how} raised"
                    continue
                cols, rows = twin
            res = con.execute(QUERIES[target][1])
            bad = _compare(cols, rows, [d[0] for d in res.description], res.fetchall())
            if bad:
                problems[name] = f"{target}: {bad}"
        return problems

    def final_check(self, h) -> dict[str, str]:
        return {}

    def extra_metrics(self, timed) -> dict[str, tuple[float, str, int]]:
        return {}


@dataclass
class MovieLensWorkload:
    """Publish, open, query: one cycle of the reference ETL job."""

    name: str = "movielens_etl"
    n_movies: int = ML_MOVIES
    n_ratings: int = ML_RATINGS
    dir: Path = Path(".")
    expect: gen.MovieLensExpect | None = None
    tables: dict[str, object] = field(default_factory=dict)

    @property
    def root(self) -> str:
        return str(self.dir / "snapshot")

    def prepare(self, work: Path, seed: int) -> None:
        self.dir = work / "movielens"
        self.expect = gen.write_movielens(str(self.dir), seed, self.n_movies, self.n_ratings)

    def _publish(self):
        pipeline.load_movielens(
            self.spark, str(self.dir / "movies.csv"), str(self.dir / "ratings.csv"),
            self.root, lookup=self.spark.read.parquet(str(self.dir / "lookup.parquet")),
        )

    def _read(self):
        tables = {}
        for t in MOVIE_TABLES:
            with self.rec.span("read_snapshot_table"):
                tables[t] = read_snapshot_table(self.spark, self.root, t)
        self.tables = tables

    def pass_ops(self, rng: random.Random | None = None) -> list[Op]:
        # the query frames are built from the tables the read op opened
        return [
            Op("publish", self._publish, span="load_movielens"),
            Op("read_snapshot", self._read, span="read_snapshot"),
            *(Op(name, (lambda fn=fn: fn(self.tables)))
              for name, (fn, _) in MOVIE_QUERIES.items()),
        ]

    def setup(self, h) -> dict[str, object]:
        """One untimed cycle: the warm-up publish and the codegen pass
        over q1-q4, whose rows are collected for the output check."""
        self.spark, self.rec = h.spark, h.rec
        _span_etl_calls(h.rec)
        return {op.name: h.run_op(op, setup=True, collect=True) for op in self.pass_ops()}

    def _duck(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for t, path in read_manifest(self.root)["tables"].items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.root}/{path}/*.parquet')")
        return con

    def _check_tables(self, con) -> dict[str, str]:
        e = self.expect
        problems = {}
        for t, want in (("movies", e.movies), ("genres", e.genres),
                        ("movie_genres", e.movie_genres), ("ratings", e.ratings)):
            got = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            if got != want:
                problems[f"publish:{t}"] = f"rows {got} != {want}"
        res = con.execute(
            "SELECT movie_id, title, release_year, director, box_office_dollars, "
            "runtime_mins, imdb_rating FROM movies")
        want_rows = [(k, *v) for k, v in e.rows.items()]
        bad = _compare([d[0] for d in res.description], res.fetchall(),
                       [d[0] for d in res.description], want_rows)
        if bad:
            problems["publish:movies"] = bad
        return problems

    def check(self, h, outputs: dict[str, object]) -> dict[str, str]:
        if outputs["publish"] is None:
            return {"publish": "raised during the warm-up cycle"}
        con = self._duck()
        problems = self._check_tables(con)
        for name, (_, sql) in MOVIE_QUERIES.items():
            out = outputs.get(name)
            if out is None:
                problems[name] = "raised during the warm-up cycle"
                continue
            res = con.execute(sql)
            bad = _compare(*out, [d[0] for d in res.description], res.fetchall())
            if bad:
                problems[name] = bad
        return problems

    def final_check(self, h) -> dict[str, str]:
        """The snapshot the last timed publish committed."""
        return self._check_tables(self._duck())

    def stored_bytes(self) -> int:
        return sum(
            p.stat().st_size for p in Path(self.root).rglob("*")
            if p.is_file() and p.name != "_MANIFEST.json"
        )

    def extra_metrics(self, timed) -> dict[str, tuple[float, str, int]]:
        """ETL-only figures: (value, unit, sample count)."""
        from statistics import median

        publish = [t.seconds for t in timed if t.name == "publish" and t.ok]
        per_pass: dict[int, float] = {}
        for t in timed:
            if t.name.startswith("movie_queries.") and t.ok:
                per_pass[t.pass_no] = per_pass.get(t.pass_no, 0.0) + t.seconds
        return {
            "publish_s": (median(publish) if publish else 0.0, "s", len(publish)),
            "movie_queries_s": (median(per_pass.values()) if per_pass else 0.0, "s", len(per_pass)),
            "stored_bytes_per_input_byte": (
                self.stored_bytes() / self.expect.input_bytes, "ratio", 1),
        }


def _span_etl_calls(rec) -> None:
    """Open spans around the two calls ``load_movielens`` makes into the
    plans and sources layers, and count what each publish writes. The
    wrappers sit in the modules' namespaces, where ``load_movielens``
    looks the callees up, so the op itself is unchanged."""
    real_etl, real_publish = pipeline.run_movielens_etl, snapshot.publish_snapshot

    def run_movielens_etl(*args, **kwargs):
        with rec.span("run_movielens_etl"):
            return real_etl(*args, **kwargs)

    def publish_snapshot(root, tables, keep_versions=2):
        with rec.span("publish_snapshot"):
            version = real_publish(root, tables, keep_versions)
        if rec.enabled:
            files = [p for p in Path(root, f"v{version}").rglob("*") if p.is_file()]
            rec.count("files_written", len(files))
            rec.count("bytes_written_mb", sum(p.stat().st_size for p in files) / 2**20)
        return version

    pipeline.run_movielens_etl = run_movielens_etl
    snapshot.publish_snapshot = publish_snapshot


def make(name: str) -> RegistryWorkload | MovieLensWorkload:
    if name == "movielens_etl":
        return MovieLensWorkload()
    if name == "relational_short":
        return RegistryWorkload(name, dict.fromkeys((
            "q1_top_part", "q2_top_regions", "q3_top_segment", "q4_yearly_shipments",
            "pricing_summary", "shipping_priority", "supplier_volume_by_nation",
            "q17_small_qty_revenue", "events_hourly", "sessionize_events",
            "conversion_funnel", "cohort_retention", "tfidf_top_terms", "bm25_top_docs",
        ), "oracle"))
    if name == "graph_fixpoint":
        return RegistryWorkload(name, {
            "trade_pagerank": "digest", "trade_ppr_nation0": "digest",
            "trade_hits": "digest", "trade_kcore": "digest",
            "dedup_clusters": "cluster_check",
        }, memo=True)
    if name == "similarity_heavy":
        return RegistryWorkload(name, {
            "part_affinity_cosine": "oracle", "ppjoin_jaccard_pairs": "oracle",
            "charlm_doc_scores": "oracle", "minhash_dedup_pairs": "minhash_recall_check",
        }, sf=SIMILARITY_SF)
    raise ValueError(f"unknown workload {name!r}; choose one of {NAMES}")


NAMES = ("movielens_etl", "relational_short", "graph_fixpoint", "similarity_heavy")
