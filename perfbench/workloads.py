"""The benchmark's workloads.  Each runs closed-loop with one client.

``run.py`` drives a workload through these phases:

* ``prepare(rundir)`` -- generate every input from the seed, before the
  Spark session exists (nothing is generated inside a timed region);
* ``setup(spark, i)`` for ``i`` below ``SETUP_REPEATS`` -- build the
  program objects the timed loop uses, each time afresh; the last
  build is used;
* ``warmup()``, then ``run(spec)`` for each op spec that
  ``schedule(seconds)`` yields, each timed on its own;
* ``check()`` -- untimed output checks, returning the indexes of the
  failed ops and the problems found.

An op spec is a tuple whose first item is its kind: ``batch``,
``query``, ``point`` or ``range``.  ``primary(spec)`` tells which ops
the end-to-end metrics describe; the others are timed for the traced
per-layer metrics only.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time

import orders_gen
import tables_gen
from checks import (
    check_verification,
    compare_frames,
    compare_table,
    fingerprint,
    oracle_frames,
)

SETUP_REPEATS = 3


def label(spec: tuple) -> str:
    if spec[0] == "query":
        return spec[1]
    return spec[0] if spec[0] == "batch" else f"{spec[0]}_lookup"


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class HourlySync:
    """Hourly Shopify order batches through ``IncrementalPipeline.execute``
    with verification on (see ``orders_gen`` for the batch shape), then
    point and range lookups on the final ``orders`` table they built.

    The warehouse starts from the state one earlier hour left behind:
    the warm-up writes that hour's expected ``orders`` table with the
    layout a merge leaves (one segment with key stats) and records its
    watermark, so the first timed batch already re-delivers orders into
    existing keys and reads through the 1 h overlap.  A batch costs a
    large share of a run, so at ten seconds a run times one batch.
    """

    name = "hourly_sync"
    orders_per_batch = 1000
    max_batches = 3
    point_lookups = 6
    range_lookups = 2

    def __init__(self, seed: int):
        self.rng = random.Random(seed * 7919 + 1)
        self.stream = orders_gen.OrderStream(seed, self.orders_per_batch)
        self.results: list[dict] = []
        self.lookups: list[tuple[int, tuple, list[dict]]] = []

    def prepare(self, rundir: str) -> None:
        self.rundir = rundir
        src = os.path.join(rundir, "source")
        os.makedirs(src)
        self.paths = []
        self.stream.next_batch()  # hour 0: the history the warm-up seeds
        for b in range(1, self.max_batches + 1):
            path = os.path.join(src, f"orders-hour-{b:03d}.ndjson")
            orders_gen.write_ndjson(self.stream.next_batch(), path)
            self.paths.append(path)
        self.lookup_specs = self._lookup_specs()

    def _lookup_specs(self) -> list[tuple]:
        """Point keys favour the first timed hour, which every run loads;
        about 10% are absent."""
        recent_rows = self.stream.batches[1]
        recent = sorted({str(r["id"]) for r in recent_rows})
        everyone = sorted({str(r["id"]) for rows in self.stream.batches[:2] for r in rows})
        customers = sorted({str(r["customer"]["id"]) for r in recent_rows if r.get("customer")})
        specs: list[tuple] = []
        for j in range(self.point_lookups):
            r = self.rng.random()
            col = "customer_id" if j % 3 == 2 else "order_id"
            if r < 0.1:
                key = str(90_000_000 + self.rng.randrange(1_000_000))
            elif col == "customer_id":
                key = self.rng.choice(customers)
            else:
                key = self.rng.choice(recent if r < 0.7 else everyone)
            specs.append(("point", col, key))
        for j in range(self.range_lookups):
            lo = orders_gen.START + dt.timedelta(minutes=self.rng.randrange(0, 110))
            hi = lo + dt.timedelta(minutes=self.rng.randrange(1, 10))
            specs.insert(3 * j + 2, ("range", "updated_at", lo, hi))
        return specs

    def setup(self, spark, i: int) -> None:
        """Create warehouse ``i`` (``IncrementalPipeline`` writes its 13
        empty tables) on a fresh path; the last one is used."""
        from shopify_youtube_etl_spark.streaming.pipeline import IncrementalPipeline

        self.pipe = IncrementalPipeline(spark, os.path.join(self.rundir, f"warehouse-{i}"))
        self.orders = self.pipe.finals["orders"]

    def warmup(self) -> None:
        """Seed the final ``orders`` table and the watermark with the hour
        before the first timed batch."""
        from shopify_youtube_etl_spark.schemas import FINAL_TABLE_SCHEMAS, UNIQUE_KEYS

        history = self.stream.batches[0]
        state = orders_gen.expected_state([history])["orders"]
        schema = FINAL_TABLE_SCHEMAS["orders"]
        rows = [tuple(r[f.name] for f in schema.fields) for r in state.values()]
        self.orders.overwrite(
            self.pipe.spark.createDataFrame(rows, schema), stats_cols=UNIQUE_KEYS["orders"]
        )
        self.pipe.control.record_run(
            "orders", orders_gen.max_updated_at(history), len(history), "success"
        )

    def schedule(self, seconds: float):
        t0 = time.perf_counter()
        for b in range(len(self.paths)):
            yield ("batch", b)
            if time.perf_counter() - t0 >= seconds:
                break
        yield from self.lookup_specs

    @staticmethod
    def primary(spec: tuple) -> bool:
        return spec[0] == "batch"

    def run(self, i: int, spec: tuple, tracer=None) -> None:
        if spec[0] == "batch":
            self.results.append(self.pipe.execute(self.paths[spec[1]]))
        elif spec[0] == "point":
            rows = self.orders.read_point(spec[1], spec[2]).collect()
            self.lookups.append((i, spec, [r.asDict() for r in rows]))
        else:
            rows = self.orders.read_range(spec[1], spec[2], spec[3]).collect()
            self.lookups.append((i, spec, [r.asDict() for r in rows]))

    def check(self) -> tuple[set[int], list[str]]:
        """Op ``b`` loaded hour ``b + 1``; lookups follow the batches."""
        failed: set[int] = set()
        problems: list[str] = []
        n_hours = len(self.results) + 1
        last = len(self.results) - 1
        for b, res in enumerate(self.results):
            p = check_verification(res.get("verification"))
            if res.get("status") != "success":
                p.append(f"batch {b}: status {res.get('status')}")
            n_raw = len(self.stream.batches[b + 1])
            if res.get("records_processed") != n_raw:
                p.append(f"batch {b}: processed {res.get('records_processed')} of {n_raw} rows")
            if p:
                failed.add(b)
                problems += p
        # Watermark ledger: one success row per batch, each equal to the
        # batch's max updated_at.
        ledger = sorted(
            (r for r in self.pipe.control.table.read_rows() if r["status"] == "success"),
            key=lambda r: r["created_at"],
        )
        want = [orders_gen.max_updated_at(rows) for rows in self.stream.batches[:n_hours]]
        got = [r["last_sync_timestamp"] for r in ledger]
        got = [g.replace(tzinfo=dt.timezone.utc) if g.tzinfo is None else g for g in got]
        if got != want:
            problems.append(f"watermark ledger {got[-3:]} != expected {want[-3:]}")
            failed.add(last)
        self.expected = orders_gen.expected_state(self.stream.batches[1:n_hours])
        self.expected["orders"] = orders_gen.expected_state(self.stream.batches[:n_hours])["orders"]
        for table, tab in self.pipe.finals.items():
            p = compare_table(table, self.corrupt(tab.read_rows()), self.expected[table])
            if p:
                problems += p
                failed.add(last)
        orders = self.expected["orders"]
        for i, spec, rows in self.lookups:
            if spec[0] == "point":
                want_rows = {k: r for k, r in orders.items() if r[spec[1]] == spec[2]}
            else:
                lo, hi = spec[2], spec[3]
                want_rows = {k: r for k, r in orders.items() if lo <= r["updated_at"] <= hi}
            p = compare_table("orders", self.corrupt(rows), want_rows)
            if p:
                failed.add(i)
                problems += [f"{spec[:3]}: {x}" for x in p]
        return failed, problems

    corrupt_outputs = False

    def corrupt(self, rows: list[dict]) -> list[dict]:
        """Fault injection for the benchmark's own tests: change one
        value of a non-empty output before it is checked."""
        if self.corrupt_outputs and rows:
            rows = [dict(rows[0])] + rows[1:]
            for k, v in rows[0].items():
                if isinstance(v, float):
                    rows[0][k] = v + 1.0
                    break
        return rows

    def layer_counts(self) -> dict[str, float]:
        """Table layout after the run (read from disk, no Spark job)."""
        out = {}
        for table, tab in self.pipe.finals.items():
            out[f"operators.upsert.live_segments.{table}"] = len(tab.segments())
        in_bytes = sum(os.path.getsize(p) for p in self.paths[: len(self.results)])
        disk = sum(_du(tab.path) for tab in self.pipe.finals.values())
        out["operators.upsert.bytes_on_disk_per_input_byte"] = disk / in_bytes
        return out

    def segment_key_sets(self) -> dict[str, dict[str, set]]:
        """Which lookup keys each live segment of ``orders`` holds."""
        import pyarrow.parquet as pq

        holders = {}
        for seg in self.orders.segments():
            cols = pq.read_table(seg, columns=["order_id", "customer_id"]).to_pydict()
            holders[os.path.basename(seg)] = {c: set(v) for c, v in cols.items()}
        return holders


# Corpus queries interleave with the analyst queries, so every prefix of
# a round mixes both kinds.
QUERIES = [
    "flagship_revenue", "dedup_exact", "star_join_revenue_by_nation", "uniqueness_profile",
    "tfidf_top_terms", "latest_order_per_customer", "tpch_q3_shipping_priority",
    "ann_cosine_topk", "tpch_q5_local_supplier_volume", "tpch_q18_large_orders",
    "simhash_neardup", "grouping_sets_revenue", "sql_nation_rank", "events_daily_rollup",
    "sessionize_gaps_islands", "asof_click_attribution",
]


class Reads:
    """Closed-loop read traffic over the registry: analyst queries and
    corpus-curation queries, in one fixed round repeated until the run's
    time is up.  Each op builds the query's DataFrame and evaluates it
    to pandas."""

    name = "reads"
    scale = 0.1  # of the sf0.1 row counts

    def __init__(self, seed: int):
        self.seed = seed
        self.frames: list[tuple[int, str, object]] = []  # (op, query, pandas frame)

    def prepare(self, rundir: str) -> None:
        """One generated dataset, reachable under one directory per
        set-up, so each set-up attaches it afresh."""
        first = os.path.join(rundir, "tables-0")
        tables_gen.generate(first, self.seed, self.scale)
        self.sf_dirs = [first]
        for i in range(1, SETUP_REPEATS):
            d = os.path.join(rundir, f"tables-{i}")
            shutil.copytree(first, d, copy_function=os.link)
            self.sf_dirs.append(d)

    def setup(self, spark, i: int) -> None:
        """Load the query registry and attach copy ``i`` of the dataset:
        every table registered as a temp view, its schema read from the
        files.  The last copy is used."""
        from shopify_youtube_etl_spark.plans.registry import all_queries
        from shopify_youtube_etl_spark.sources.tables import register_testdata_views

        self.spark = spark
        self.specs = all_queries()
        self.sf_dir = self.sf_dirs[i]
        register_testdata_views(spark, self.sf_dir)

    def _query(self, name: str, tracer=None):
        if tracer is None:
            return self.specs[name].fn(self.spark, self.sf_dir).toPandas()
        with tracer.span("plans.build"):
            df = self.specs[name].fn(self.spark, self.sf_dir)
        with tracer.span("plans.exec"):
            return df.toPandas()

    def warmup(self) -> None:
        """None: a run's time allows one round, so the timed round is the
        first call of each query in a fresh session, compile included."""

    def schedule(self, seconds: float):
        t0 = time.perf_counter()
        while True:
            for q in QUERIES:
                yield ("query", q)
            if time.perf_counter() - t0 >= seconds:
                return

    @staticmethod
    def primary(spec: tuple) -> bool:
        return True

    def run(self, i: int, spec: tuple, tracer=None) -> None:
        self.frames.append((i, spec[1], self._query(spec[1], tracer)))

    corrupt_outputs = False

    def check(self) -> tuple[set[int], list[str]]:
        """Oracle-backed queries against DuckDB on the same files.  The
        sketch query without an oracle must return identical results on
        every call and find every pair of identical documents (Hamming
        distance 0, which its banding guarantees to find)."""
        failed: set[int] = set()
        problems: list[str] = []
        oracles = {q: self.specs[q].oracle for q in QUERIES if self.specs[q].oracle}
        want = oracle_frames(self.sf_dir, tables_gen.TABLES, oracles)
        pins: dict[str, tuple] = {}
        for i, name, frame in self.frames:
            if self.corrupt_outputs and i == 0:
                frame = frame.copy()
                col = frame.columns[-1]
                frame[col] = frame[col].map(lambda v: v * 2 + 1 if isinstance(v, (int, float)) else f"{v}x")
            if name in want:
                p = compare_frames(name, frame, want[name])
            else:
                p = self._check_simhash(frame)
                fp = pins.setdefault(name, fingerprint(frame))
                if fingerprint(frame) != fp:
                    p.append(f"{name}: result differs between calls")
            if p:
                failed.add(i)
                problems += p
        return failed, problems

    def _check_simhash(self, frame) -> list[str]:
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet")).to_pydict()
        by_text: dict[str, list[int]] = {}
        for doc_id, text in zip(docs["doc_id"], docs["text"]):
            by_text.setdefault(text, []).append(doc_id)
        planted = {
            (a, b) for ids in by_text.values() for a in ids for b in ids if a < b
        }
        got = {
            (min(a, b), max(a, b)): h
            for a, b, h in zip(frame["id_a"], frame["id_b"], frame["hamming"])
        }
        problems = []
        missing = [pair for pair in planted if got.get(pair) != 0]
        if not planted or missing:
            problems.append(f"simhash_neardup: identical-text pairs missing {missing[:3]}")
        if any(not 0 <= h <= 12 for h in got.values()):
            problems.append("simhash_neardup: pair outside Hamming 12")
        return problems

    def layer_counts(self) -> dict[str, float]:
        return {}


WORKLOADS = {"hourly_sync": HourlySync, "reads": Reads}
