"""The benchmark's workloads: inputs, ops per batch, and output checks.

Each workload drives the engine through its public entry points only:

- ``music_etl``: ``plans.music_pipeline.run_batch_episode`` landing the
  three KPI tables into a ``sources.sinks.ParquetKeyValueSink``, then
  the nine date-keyed consumer lookups (3 tables x 3 dates);
- ``query_batch``: relational/analytic plan functions of
  ``__spark_entry__.queries()``;
- ``llm_curation``: the LLM-data-pipeline plan functions of the same
  registry.

An op runs its layers under :class:`tracing.Tracer` spans, which cost
nothing with tracing off. Outputs are checked once per run, outside the
timed region, against DuckDB recomputations over the same inputs.
"""

from __future__ import annotations

import math
import os
import random
import shutil
from collections import Counter
from dataclasses import dataclass
from functools import partial
from datetime import date, datetime
from decimal import Decimal
from typing import Callable

import duckdb

import gen_corpus
import gen_music

KPI_TABLES = ("GenreKPIs", "TopSongs", "TopGenres")


@dataclass
class Op:
    kind: str  # op kind: medians and per-op metrics are taken per kind
    label: str  # kind plus parameter, unique within a batch
    run: Callable  # run(tracer) -> result, timed
    reset: Callable | None = None  # untimed preparation right before run


# -- output comparison (the normalisation of tests/oracle_harness.py) ------


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def canonical(rows, columns) -> list[tuple]:
    """Columns sorted by name, rows sorted: order-insensitive."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm(row[i]) for i in order) for row in rows)


def compare(rows, columns, expected_rows, expected_columns) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(columns) != sorted(expected_columns):
        return f"columns {sorted(columns)} != {sorted(expected_columns)}"
    if len(rows) != len(expected_rows):
        return f"{len(rows)} rows != {len(expected_rows)} expected"
    got, want = canonical(rows, columns), canonical(expected_rows, expected_columns)
    if got != want:
        diff = next((a, b) for a, b in zip(got, want) if a != b)
        return f"values differ, first: {diff[0]} != {diff[1]}"
    return None


def _duck_rows(con, sql: str) -> tuple[list, list[str]]:
    cur = con.execute(sql)
    return cur.fetchall(), [d[0] for d in cur.description]


def _collect(tr, build: Callable) -> tuple[list, list[str]]:
    """Build a DataFrame with ``build()`` and collect it."""
    with tr.span("build"):
        df = build()
    with tr.span("action", df=df):
        rows = df.collect()
        columns = df.columns
    tr.add("result_rows", len(rows))
    return rows, columns


def _collect_op(build: Callable) -> Callable:
    """An op that builds a DataFrame with ``build()`` and collects it."""
    return lambda tr: _collect(tr, build)


# -- registry workloads ----------------------------------------------------


class RegistryWorkload:
    """Plan functions of ``__spark_entry__.queries()`` over generated
    tables; a batch runs every op once in seeded order.

    Like the engine's fixed test tables, the tables do not depend on the
    run's seed, which only orders the ops: across generator seeds the
    near-duplicate pair count alone moves by up to ~17%, and that would
    read as run-to-run noise."""

    DATA_SEED = 42

    name = ""
    ops: tuple[str, ...] = ()
    tables: tuple[str, ...] = ()
    default_scale = 0.1  # fraction of sf1
    warmup_batches = 2

    def __init__(self, spark, data_dir: str, seed: int, scale: float):
        import __spark_entry__

        self.spark = spark
        self.data_dir = os.path.join(data_dir, "tables")
        self.scale = scale
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def prepare(self) -> None:
        raise NotImplementedError

    def install_trace_hooks(self, tr) -> None:
        pass

    def batch(self, rng: random.Random) -> list[Op]:
        order = list(self.ops)
        rng.shuffle(order)
        return [Op(n, n, _collect_op(partial(self.queries[n], self.spark, self.data_dir))) for n in order]

    def _duck(self):
        con = duckdb.connect()
        for t in self.tables:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    def check(self, results: dict[str, tuple]) -> dict[str, str | None]:
        """One verdict per op label: None when the output is right."""
        con = self._duck()
        verdicts = {}
        for label, (rows, columns) in results.items():
            verdicts[label] = self._check_one(con, label, rows, columns)
        return verdicts

    def _check_one(self, con, name, rows, columns) -> str | None:
        return compare(rows, columns, *_duck_rows(con, self.oracles[name]))


class QueryBatch(RegistryWorkload):
    """Short relational plans, where driver-side construction and Catalyst
    are a large share of each op. Not listed in BENCHMARK.json, whose run
    budget fits two workloads; run it by name.

    Its tables come from the engine's relational scale-probe generator,
    which has the sf0.1 test tables' schemas and row counts and takes a
    whole multiple of them, so the only scale is sf0.1."""

    name = "query_batch"
    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
    ops = (
        "segment_kpis_compat",
        "top_rows_per_day_compat",
        "pricing_summary",
        "shipping_priority",
        "returnflag_rollup",
        "nation_revenue",
        "customer_order_deltas",
        "user_sessions",
        "clicks_asof_prior_view",
        "events_json_extract",
    )

    def prepare(self) -> None:
        from tools import scale_probe

        if self.scale != 0.1:
            raise ValueError("query_batch runs at sf0.1 only")
        scale_probe.gen_relational(1, self.data_dir)


class LlmCuration(RegistryWorkload):
    name = "llm_curation"
    tables = gen_corpus.TABLES
    # a fifth of sf0.1: a warm sf0.1 batch takes ~11 s and a warm sf0.03
    # one ~5 s, so too few batches fit one run of the benchmark's budget
    # for a median, after the warm-up
    default_scale = 0.02
    # after two warm-up batches the next three still fell by 10-25% in
    # most runs; after three, batches stay within ~10% of each other
    warmup_batches = 3
    ops = (
        "doc_minhash_near_dups",
        "doc_ngram_containment",
        "doc_token_stats",
        "doc_exact_dedup",
        "embedding_topk_bruteforce",
        "embedding_lsh_topk",
    )
    # approximate ops have no oracle: thresholds of tests/test_llm_ops.py
    JACCARD = 0.95  # doc_minhash_near_dups / doc_jaccard_pairs threshold
    MINHASH_RECALL = 0.9
    LSH_RECALL_AT_5 = 0.5

    def prepare(self) -> None:
        gen_corpus.generate(self.data_dir, self.DATA_SEED, self.scale)

    def _check_one(self, con, name, rows, columns) -> str | None:
        if name == "doc_minhash_near_dups":
            docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
            tokens = {d: frozenset(t.strip().lower().split()) for d, t in docs}
            i_a, i_b = columns.index("id_a"), columns.index("id_b")
            approx = {(r[i_a], r[i_b]) for r in rows}
            wrong = [p for p in approx if p[0] >= p[1] or jaccard(tokens[p[0]], tokens[p[1]]) < self.JACCARD]
            if wrong:
                return f"{len(wrong)} pairs are not near duplicates, e.g. {wrong[0]}"
            exact = count_near_dup_pairs(tokens.values(), self.JACCARD)
            if not exact:
                return "exact near-duplicate set is empty"
            recall = len(approx) / exact
            return None if recall >= self.MINHASH_RECALL else f"recall {recall:.3f} < {self.MINHASH_RECALL}"
        if name == "embedding_lsh_topk":
            exact_rows, exact_cols = _duck_rows(con, self.oracles["embedding_topk_bruteforce"])
            recall = recall_at_k(rows, columns, exact_rows, exact_cols, k=5)
            return None if recall >= self.LSH_RECALL_AT_5 else f"recall@5 {recall:.3f} < {self.LSH_RECALL_AT_5}"
        return super()._check_one(con, name, rows, columns)


def jaccard(a: frozenset, b: frozenset) -> float:
    """Token-set Jaccard as ``doc_jaccard_pairs`` computes it."""
    return round(len(a & b) / len(a | b), 6)


def count_near_dup_pairs(token_sets, threshold: float) -> int:
    """Number of document pairs with Jaccard >= ``threshold`` -- the row
    count of ``doc_jaccard_pairs`` -- without comparing every pair.

    Identical sets pair up directly. Two distinct sets A, B qualify only
    if |A ^ B| <= |A & B| * (1 - threshold) / threshold. When that bound
    is below 2 even for the largest set, the smaller set is the larger
    minus one token, so the candidates are the one-token deletions of
    each set. Otherwise sets are compared within the size band a
    qualifying pair must fall in."""
    groups = Counter(token_sets)
    pairs = sum(n * (n - 1) // 2 for n in groups.values())
    largest = max(map(len, groups), default=0)
    if largest * (1 - threshold) / threshold < 2:
        for b, n_b in groups.items():
            for token in b:
                a = b - {token}
                if a in groups and jaccard(a, b) >= threshold:
                    pairs += groups[a] * n_b
        return pairs
    distinct = sorted(groups, key=len)
    for i, a in enumerate(distinct):
        for b in distinct[i + 1 :]:
            if len(a) < threshold * len(b):
                break
            if jaccard(a, b) >= threshold:
                pairs += groups[a] * groups[b]
    return pairs


def recall_at_k(rows, columns, exact_rows, exact_columns, k: int) -> float:
    """Mean over exact queries of |approx top-k ∩ exact top-k| / k."""

    def topk(rs, cols):
        q, n = cols.index("query_id"), cols.index("neighbor_id")
        out: dict = {}
        for r in rs:
            out.setdefault(r[q], set()).add(r[n])
        return out

    approx, exact = topk(rows, columns), topk(exact_rows, exact_columns)
    if not exact:
        return 0.0
    return sum(len(approx.get(q, set()) & ids) / k for q, ids in exact.items()) / len(exact)


# -- music_etl ---------------------------------------------------------------


_MUSIC_BASE_SQL = """
WITH streams AS (
  SELECT CAST(NULLIF(user_id,'') AS BIGINT) AS user_id,
         NULLIF(track_id,'') AS track_id,
         CAST(NULLIF(listen_time,'') AS TIMESTAMP) AS listen_time
  FROM read_csv('{streams}/*.csv', header=true, all_varchar=true)
),
songs_clean AS (
  SELECT track_id, track_name, track_genre FROM (
    SELECT NULLIF(track_id,'') AS track_id, NULLIF(track_name,'') AS track_name,
           NULLIF(track_genre,'') AS track_genre,
           ROW_NUMBER() OVER (PARTITION BY NULLIF(track_id,'')
                              ORDER BY NULLIF(track_name,''), NULLIF(track_genre,'')) AS rn
    FROM read_csv('{songs}', header=true, all_varchar=true)
    WHERE NULLIF(track_id,'') IS NOT NULL AND NULLIF(track_name,'') IS NOT NULL
      AND NULLIF(track_genre,'') IS NOT NULL
  ) WHERE rn = 1
),
filtered AS (
  SELECT strftime(s.listen_time, '%Y-%m-%d') AS date,
         g.track_genre, s.track_id, g.track_name, s.user_id,
         CAST(hour(s.listen_time)*3600 + minute(s.listen_time)*60
              + CAST(second(s.listen_time) AS BIGINT) AS BIGINT) AS listen_time_seconds
  FROM streams s LEFT JOIN songs_clean g ON s.track_id = g.track_id
  WHERE s.track_id IS NOT NULL AND s.user_id IS NOT NULL AND s.listen_time IS NOT NULL
    AND NOT regexp_matches(g.track_genre, '^[0-9]+(\\.[0-9]+)?$')
),
counts AS (
  SELECT date, track_genre, track_id, track_name, COUNT(track_id) AS listen_count
  FROM filtered GROUP BY ALL
)
"""

_MUSIC_KPI_SQL = {
    "GenreKPIs": """
SELECT date, track_genre, COUNT(*) AS listen_count, COUNT(user_id) AS unique_listeners,
       SUM(listen_time_seconds) AS total_listening_time,
       CAST(SUM(listen_time_seconds) AS DOUBLE) / COUNT(*) AS avg_listening_time
FROM filtered GROUP BY date, track_genre""",
    "TopSongs": """
SELECT * FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY date, track_genre
             ORDER BY listen_count DESC, track_id) AS INTEGER) AS rank
  FROM counts) WHERE rank <= 3""",
    "TopGenres": """
SELECT * FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY date
             ORDER BY listen_count DESC, track_id) AS INTEGER) AS rank
  FROM counts) WHERE rank <= 5""",
}


class MusicEtl:
    """One batch is a full pipeline episode (validate, read, enrich, three
    KPI upserts into one sink, archive) followed by the nine date-keyed
    consumer lookups, as three ops of one table and its three dates each
    (a lookup alone takes ~110 ms, less than the JVM GC before an op).
    Every episode lands the same three date partitions, so the sink keeps
    a constant size."""

    name = "music_etl"
    default_scale = 1.0  # the reference's input volume
    # the first episode runs cold (three to four times a warm one) and the
    # second ~20% slower than the third; from the third on, episodes stay
    # within ~10% of each other. (They keep drifting ~15% lower over the
    # next ten or so as the JIT compiles more; a warm-up that long does
    # not fit the run budget.)
    warmup_batches = 3

    def __init__(self, spark, data_dir: str, seed: int, scale: float):
        from etl_with_s3__dynamodb_and_glue_spark.sources.sinks import ParquetKeyValueSink

        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.src = os.path.join(data_dir, "music_src")
        self.streams = os.path.join(data_dir, "streams")
        self.archive = os.path.join(data_dir, "archive")
        self.sink_dir = os.path.join(data_dir, "sink")
        self.sink = ParquetKeyValueSink(self.sink_dir)
        self.paths: dict[str, str] = {}

    def prepare(self) -> None:
        self.paths = gen_music.generate(self.src, self.seed, self.scale)

    def _stage(self) -> None:
        """Untimed: put the stream files back where the last episode's
        archival moved them from, and empty the archive."""
        shutil.rmtree(self.archive, ignore_errors=True)
        shutil.rmtree(self.streams, ignore_errors=True)
        shutil.copytree(self.paths["streams"], self.streams)

    def install_trace_hooks(self, tr) -> None:
        """Wrap the layers the episode calls into, without editing them."""
        from etl_with_s3__dynamodb_and_glue_spark.plans import music_pipeline as mp
        from etl_with_s3__dynamodb_and_glue_spark.sources import archive

        def spanned(fn, name):
            def wrapper(*args, **kwargs):
                with tr.span(name):
                    return fn(*args, **kwargs)

            return wrapper

        mp.run_pipeline = spanned(mp.run_pipeline, "build")
        mp.require_csv_columns = spanned(mp.require_csv_columns, "validate")
        mp.require_nonempty = spanned(mp.require_nonempty, "validate")

        archive_files = archive.archive_files

        def traced_archive(*args, **kwargs):
            with tr.span("archive"):
                moved = archive_files(*args, **kwargs)
            tr.add("archive_files", len(moved))
            return moved

        archive.archive_files = traced_archive

        sink_write = self.sink.write

        def traced_write(df, table, key):
            with tr.span("sink.write"):
                sink_write(df, table, key)
            with tr.bookkeeping():
                files = _data_files(os.path.join(self.sink_dir, table))
                tr.add("sink_files", len(files))
                tr.add("sink_bytes", sum(os.path.getsize(f) for f in files))

        self.sink.write = traced_write

    def batch(self, rng: random.Random) -> list[Op]:
        from pyspark.sql import functions as F

        from etl_with_s3__dynamodb_and_glue_spark.plans.music_pipeline import run_batch_episode

        spark = self.spark

        def episode(tr):
            counts = run_batch_episode(
                spark, self.paths["users"], self.paths["songs"], self.streams, self.sink, self.archive
            )
            tr.add("result_rows", sum(counts.values()))
            return counts

        def lookup(table, day):
            return spark.read.parquet(f"{self.sink_dir}/{table}").filter(F.col("date") == day)

        def lookups(table, days, tr):
            return {d: _collect(tr, partial(lookup, table, d)) for d in days}

        ops = [Op("episode", "episode", episode, reset=self._stage)]
        for table in rng.sample(KPI_TABLES, len(KPI_TABLES)):
            days = rng.sample(gen_music.DAYS, len(gen_music.DAYS))
            ops.append(Op(f"lookup.{table}", f"lookup.{table}", partial(lookups, table, days)))
        return ops

    def check(self, results: dict[str, tuple]) -> dict[str, str | None]:
        """The landed KPI tables must equal a DuckDB recomputation over the
        generated CSVs, and each lookup must return the landed rows of its
        date."""
        con = duckdb.connect()
        base = _MUSIC_BASE_SQL.format(streams=self.paths["streams"], songs=self.paths["songs"])
        verdicts: dict[str, str | None] = {"episode": None}
        expected = {}
        for table in KPI_TABLES:
            expected[table] = _duck_rows(con, base + _MUSIC_KPI_SQL[table])
            landed = _duck_rows(
                con,
                f"SELECT * FROM read_parquet('{self.sink_dir}/{table}/*/*.parquet', "
                "hive_partitioning=true, hive_types_autocast=false)",
            )
            problem = compare(*landed, *expected[table])
            if problem:
                verdicts["episode"] = f"{table}: {problem}"
        expected_counts = {t: len(expected[t][0]) for t in KPI_TABLES}
        if "episode" in results and results["episode"] != expected_counts:
            verdicts["episode"] = f"row counts {results['episode']} != {expected_counts}"
        for label, by_day in results.items():
            if not label.startswith("lookup."):
                continue
            exp_rows, exp_cols = expected[label[len("lookup.") :]]
            d = exp_cols.index("date")
            problems = [
                f"{day}: {problem}"
                for day, (rows, columns) in sorted(by_day.items())
                if (problem := compare(rows, columns, [r for r in exp_rows if r[d] == day], exp_cols))
            ]
            verdicts[label] = "; ".join(problems) or None
        return verdicts


def _data_files(table_dir: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(table_dir)
        for f in files
        if f.startswith("part-")
    ]


WORKLOADS = {w.name: w for w in (MusicEtl, QueryBatch, LlmCuration)}
