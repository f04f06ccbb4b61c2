"""The workloads. Each drives the engine's public entry points and
puts a span around every call into an engine layer:

* ``query_mix`` — registered analytic queries through the ``noop`` sink
  (layers: ``session``, ``queries``/``operators``; bypasses ``sinks``
  and ``plans``).
* ``lake_daily`` — one bronze→silver→gold day through
  ``plans.medallion.MedallionPipeline``, then point reads, range reads
  and small appends with their maintenance policy on a serving table,
  all on one ``ManifestCatalog`` (layers: ``sources``,
  ``plans.medallion``, ``operators.scd``, ``sinks.manifest``).

A workload has ``setup`` (inputs, stores, checked warm-up),
``measure`` (the timed closed loop) and ``finish`` (final checks; it
returns the layer counts the traced run reports).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import statistics
import sys
import time

import gen
from harness import OpFailed, Run, geomean, min_samples_for, percentile


def _files(path: str) -> dict[str, int]:
    """Size of every file under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def _tree_bytes(path: str) -> int:
    return sum(_files(path).values())


def _new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of the files in ``after`` that ``before`` did not have."""
    return sum(n for p, n in after.items() if p not in before)


def _lake_layer(run: Run, lake: str, catalog, tables, written: int,
                input_bytes: int, commits: int, lookups: list[int]) -> dict:
    """Layer counts of a lake workload: bytes written per op and per
    input byte, storage amplification (bytes under the root over bytes
    the latest manifests reference), commits per op, dirs scanned per
    pruned read and dirs the latest manifests list."""
    referenced, dirs_total = 0, 0
    for t in tables:
        m = catalog.latest_manifest(t)
        dirs = m["dirs"] or [d for ds in m["bucket_dirs"].values() for d in ds]
        dirs_total += len(dirs)
        referenced += sum(_tree_bytes(d.removeprefix("file:")) for d in dirs)
    n = run.n_ops
    return {
        "sinks.bytes_written": (written / n, "bytes"),
        "sinks.write_amp": (written / input_bytes, "ratio"),
        "sinks.storage_amp": (_tree_bytes(lake) / referenced, "ratio"),
        "manifest.versions": (commits / n, "count"),
        "manifest.dirs_per_lookup": (
            sum(lookups) / len(lookups) if lookups else 0.0, "count"),
        "manifest.dirs_total": (dirs_total, "count"),
    }


NO_LAKE = {
    "sinks.bytes_written": (0, "bytes"), "sinks.write_amp": (0.0, "ratio"),
    "sinks.storage_amp": (0.0, "ratio"), "manifest.versions": (0, "count"),
    "manifest.dirs_per_lookup": (0.0, "count"), "manifest.dirs_total": (0, "count"),
}


@contextlib.contextmanager
def _writing_span(tr, name: str, lake: str, role: str = "exec"):
    """Span around a layer call that writes; a traced run also records
    the bytes of the files it added under ``lake`` (the directory walks
    count as tracing overhead)."""
    t0 = time.perf_counter()
    before = _files(lake) if tr.enabled else None
    tr.overhead_s += time.perf_counter() - t0
    with tr.span(name, role=role) as counts:
        yield
    if before is not None:
        t0 = time.perf_counter()
        counts["bytes_written"] = _new_bytes(before, _files(lake))
        tr.overhead_s += time.perf_counter() - t0


def _trace_methods(obj, tracer, methods: dict) -> None:
    """Wrap ``obj``'s methods (name → (span, role)) in spans, on the
    instance, so calls the engine makes through it are traced too."""
    if not tracer.enabled:
        return
    for meth, (span, role) in methods.items():
        orig = getattr(obj, meth)

        def traced(*a, _orig=orig, _span=span, _role=role, **kw):
            with tracer.span(_span, role=_role) as counts:
                res = _orig(*a, **kw)
                if isinstance(res, list):
                    counts["dirs"] = len(res)
                return res

        setattr(obj, meth, traced)


# -- query_mix --------------------------------------------------------------

#: two from each family: TPC-H shapes, text/dedup, vectors, SCD
QUERIES = (
    "pricing_summary", "revenue_by_nation",
    "dedup_exact_text", "text_quality",
    "label_centroids", "cosine_topk",
    "scd2_transition", "orders_pit_dimension_join",
)
#: untimed passes after the checked one: per-pass CPU falls most from
#: the first pass after warm-up to the second, as the JIT catches up
QUERY_WARM_PASSES = 1
QUERY_MIN_PASSES = 2


class QueryMix:
    def __init__(self, run: Run):
        self.run = run
        self.data = os.path.join(run.work, "data")
        self.rng = random.Random(run.seed)

    def setup(self) -> None:
        from end_to_end_etl_pipeline_spark.queries.catalog import REGISTRY
        from tests.oracle import compare

        gen.write_tables(gen.tpch_tables(self.run.seed), self.data)
        self.queries = {n: REGISTRY[n] for n in QUERIES}
        # the warm-up pass: every result against its DuckDB oracle
        for name in self._order():
            q = self.queries[name]
            try:
                df = q.spark(self.run.spark, self.data)
                if q.oracle is None:
                    problems = [] if df.limit(1).count() else ["no rows"]
                else:
                    problems = compare(df, q.oracle, self.data)
            except Exception as exc:
                problems = [repr(exc)]
            self.run.check(not problems, f"{name}: {'; '.join(problems)[:300]}")
        for _ in range(QUERY_WARM_PASSES):
            for name in self._order():
                self._query(name)

    def _order(self) -> list[str]:
        order = list(QUERIES)
        self.rng.shuffle(order)
        return order

    def _query(self, name: str) -> None:
        tr = self.run.tracer
        with tr.span(f"query.{name}.plan", role="plan"):
            df = self.queries[name].spark(self.run.spark, self.data)
        with tr.span(f"query.{name}.exec", role="exec"):
            df.write.format("noop").mode("overwrite").save()

    def measure(self) -> None:
        """Passes in seeded order until time is up, and at least
        ``QUERY_MIN_PASSES`` whole ones: with JIT compile still most of
        a query's CPU, one sample per query is too noisy. The first
        pass is the count block."""
        passes = 0
        while True:
            for name in self._order():
                if passes >= QUERY_MIN_PASSES and self.run.done():
                    return
                with self.run.op(name, block=passes == 0):
                    self._query(name)
            passes += 1

    def finish(self) -> dict:
        return dict(NO_LAKE)

    def report(self, layer: dict) -> dict:
        return {
            "queries_per_min": 60.0 * self.run.n_ops / sum(
                d["wall"] for v in self.run.samples.values() for d in v),
            "query_geomean_s": geomean(self.run.kind_medians("wall")),
        }


# -- the medallion pipeline ----------------------------------------------------

COMPANIES = 2000
CHANGE_SHARE = 0.02

OVERVIEW = ("company_number string, company_name string, company_status string, "
            "date_of_creation string, jurisdiction string")
OFFICERS = ("company_number string, "
            "items array<struct<name:string,officer_role:string,appointed_on:string>>")
DETAILS = ("company_number string, company_name string, industry string, "
           "sector string, country string, exchange string, market_cap long, "
           "ingestion_date date")
FUNDAMENTALS = ("company_number string, quarter_end_date date, total_revenue double, "
                "net_income double, ingestion_date date")


def medallion_config(raw: str, as_of: str) -> dict:
    """The reference pipeline's shape as engine config: JSON overview
    and exploded officers, CSV details and fundamentals; silver DQ,
    dedup, officer features and SCD2; gold dimension and fact."""
    return {
        "bronze": [
            {"table": "bronze.overview",
             "source": {"format": "json", "path": f"{raw}/overview", "schema": OVERVIEW}},
            {"table": "bronze.officers",
             "source": {"format": "json", "path": f"{raw}/officers", "schema": OFFICERS},
             "explode": {"key": "company_number", "array_col": "items"}},
            {"table": "bronze.details", "file_metadata": False,
             "source": {"format": "csv", "path": f"{raw}/details", "schema": DETAILS}},
            {"table": "bronze.fundamentals", "file_metadata": False,
             "source": {"format": "csv", "path": f"{raw}/fundamentals",
                        "schema": FUNDAMENTALS}},
        ],
        "silver": [
            {"table": "silver.company_master", "from": "bronze.overview",
             "business_keys": ["company_number"],
             "derive": {
                 "company_name": "trim(company_name)",
                 "company_status": "initcap(company_status)",
                 "is_active": "initcap(company_status) = 'Active'",
                 "company_age":
                     "year(date'2026-01-01') - year(to_date(date_of_creation))"},
             "dedup": {"keys": ["company_number"], "order_by": ["file_path DESC"]},
             "feature_joins": [{
                 "from": "bronze.officers", "group_by": ["company_number"],
                 "aggs": {"officer_count": "count(*)",
                          "distinct_roles": "count(DISTINCT officer_role)"},
                 "on": ["company_number"], "how": "left"}]},
            {"table": "silver.company_details", "from": "bronze.details",
             "business_keys": ["company_number"],
             "scd": {"type": 2, "business_keys": ["company_number"],
                     "tracked_columns": list(gen.TRACKED), "as_of": as_of}},
            {"table": "silver.fundamentals", "from": "bronze.fundamentals",
             "business_keys": ["company_number", "quarter_end_date"],
             "bounds": {"total_revenue": [0, 1e15]},
             "scd": {"type": 2, "business_keys": ["company_number", "quarter_end_date"],
                     "tracked_columns": ["total_revenue", "net_income"],
                     "as_of": as_of}},
        ],
        "gold": [
            {"table": "gold.dim_company", "from": "silver.company_details",
             "kind": "dimension"},
            {"table": "gold.fact_fundamentals", "from": "silver.fundamentals",
             "kind": "fact",
             "lag_growth": {"partition_by": ["company_number"],
                            "order_by": "quarter_end_date",
                            "value_col": "total_revenue", "out_col": "qoq_growth"},
             "derive": {"net_margin": "CASE WHEN total_revenue <> 0 "
                                      "THEN net_income / total_revenue END"}},
        ],
    }


# -- lake_daily: the daily pipeline and serving on one lake -------------------

SERVING_TABLE = "serve.items"
INITIAL_ROWS = 15000
APPEND_ROWS = 200
RANGE_WIDTH = 50.0
#: appends per cycle; the table starts each cycle as one data dir, so
#: the last append takes it past ``MAX_DIRS`` and its policy calls
#: compact the table and vacuum the superseded dirs and manifests
APPENDS = 2
MAX_DIRS = APPENDS
#: one version survives a vacuum; each append and the compaction add one
MAX_VERSIONS = APPENDS + 1
#: the serving ops of one cycle (shuffled per cycle), after its day; an
#: assumed mix, not a measured one: every kind weighs the same in the
#: per-op figures whatever its count here. The cheap reads come in
#: numbers, so their medians are not read off two or three samples
SERVING = ("point",) * 9 + ("range",) * 6 + ("append",) * APPENDS
SERVING_SCHEMA = "id long, amount double, region string, note string"
#: untimed days before the timed window: per-day JIT compile time falls
#: over the first three days and is flat from then on
WARM_DAYS = 3
#: untimed passes of the serving ops, after the last warm-up day
WARM_SERVING = 1


class LakeDaily:
    """Each cycle delivers and runs one medallion day, then the serving
    ops on a separate table of the same ``ManifestCatalog``. The first
    ``WARM_DAYS`` days, then ``WARM_SERVING`` passes of the serving ops,
    are the checked warm-up; the timed window runs whole cycles."""

    def __init__(self, run: Run):
        from end_to_end_etl_pipeline_spark.plans.medallion import MedallionPipeline
        from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

        self.run = run
        self.lake = os.path.join(run.work, "lake")
        self.raw = os.path.join(run.work, "raw")
        self.world = gen.CompanyWorld(run.seed, COMPANIES, CHANGE_SHARE)
        self.rows = gen.ServingRows(run.seed)
        self.rng = random.Random(run.seed)
        self.catalog = ManifestCatalog(run.spark, f"file://{self.lake}")
        _trace_methods(self.catalog, run.tracer, {
            "replace_atomic": ("manifest.commit", "exec"),
            "read": ("manifest.read", "plan"),
            "exists": ("manifest.exists", "plan"),
            "bloom_pruned_dirs": ("manifest.prune", "plan"),
            "pruned_dirs": ("manifest.prune", "plan"),
        })
        self.pipe = MedallionPipeline(run.spark, self.lake, catalog=self.catalog)
        self.tables = [s["table"] for layer in ("bronze", "silver", "gold")
                       for s in medallion_config("", "")[layer]] + [SERVING_TABLE]
        self.day = 0
        self.written = 0
        self.input_bytes = 0

    # -- ops ------------------------------------------------------------------
    def _deliver(self) -> int:
        """Write the next day's input files (outside the op that runs
        the day: generating them is the benchmark's work, not the
        engine's); return their bytes."""
        return self.world.deliver(self.day, os.path.join(self.raw, f"day{self.day}"))

    def _day(self) -> None:
        """Run the delivered day through bronze, silver and gold."""
        raw = os.path.join(self.raw, f"day{self.day}")
        as_of = (dt.datetime(2026, 1, 1) + dt.timedelta(days=self.day)).isoformat(" ")
        cfg = medallion_config(raw, as_of)
        tr = self.run.tracer
        for layer, call in (("bronze", self.pipe.ingest_bronze),
                            ("silver", self.pipe.build_silver),
                            ("gold", self.pipe.publish_gold)):
            for spec in cfg[layer]:
                with _writing_span(tr, f"medallion.{layer}", self.lake, "plan"):
                    call(spec)
        self.day += 1

    def _append(self, compact: bool) -> int:
        """Append fresh rows, then the maintenance policy, which must
        compact and vacuum exactly when ``compact``; return the rows'
        size as CSV text."""
        tr, cat = self.run.tracer, self.catalog
        rows = self.rows.batch(APPEND_ROWS)
        with _writing_span(tr, "manifest.append", self.lake):
            df = self.run.spark.createDataFrame(rows, SERVING_SCHEMA)
            cat.append(df, SERVING_TABLE, stats_cols=["amount"], bloom_cols=["id"])
        with _writing_span(tr, "manifest.maint", self.lake):
            rewrote = cat.maybe_optimize(SERVING_TABLE, max_dirs=MAX_DIRS,
                                         stats_cols=["amount"], bloom_cols=["id"])
            deleted = cat.maybe_vacuum(SERVING_TABLE, max_versions=MAX_VERSIONS,
                                       keep_versions=1, min_age_seconds=0)
        if rewrote != compact or bool(deleted) != compact:
            raise OpFailed(f"maintenance after an append: compacted={rewrote}, "
                           f"vacuumed {len(deleted)} paths; expected both {compact}")
        return sum(len(",".join(map(str, r))) + 1 for r in rows)

    def _point(self) -> None:
        # one probe in ten misses: an id past every appended row
        v = self.rng.randrange(self.rows.next_id + self.rows.next_id // 9)
        with self.run.tracer.span("manifest.scan", role="exec"):
            got = [tuple(r) for r in self.catalog.read_point(SERVING_TABLE, "id", v)
                   .select("id", "amount").collect()]
        if got != self.rows.point(v):
            raise OpFailed(f"read_point id={v}: {got} != {self.rows.point(v)}")

    def _range(self) -> None:
        from pyspark.sql import functions as F

        lo = round(self.rng.uniform(0.0, 10000.0 - RANGE_WIDTH), 2)
        with self.run.tracer.span("manifest.scan", role="exec"):
            r = (self.catalog.read_range(SERVING_TABLE, "amount", lo, lo + RANGE_WIDTH)
                 .agg(F.count("*").alias("n"),
                      F.sum(F.round(F.col("amount") * 100).cast("long")).alias("c"))
                 .first())
        want = self.rows.range_count_cents(lo, lo + RANGE_WIDTH)
        if (r["n"], r["c"] or 0) != want:
            raise OpFailed(f"read_range [{lo}, {lo + RANGE_WIDTH}]: "
                           f"({r['n']}, {r['c']}) != {want}")

    def _op(self, kind: str) -> int:
        """Run one op; return the bytes of input it appended."""
        if kind in ("append", "compact"):
            return self._append(kind == "compact")
        if kind == "day":
            self._day()
        elif kind == "point":
            self._point()
        else:
            self._range()
        return 0

    def _cycle(self) -> list[str]:
        """The ops of one cycle: the day, then the serving ops in seeded
        order; the cycle's last append is the compacting one."""
        serving = list(SERVING)
        self.rng.shuffle(serving)
        last = len(serving) - 1 - serving[::-1].index("append")
        serving[last] = "compact"
        return ["day", *serving]

    # -- phases ---------------------------------------------------------------
    def setup(self) -> None:
        path = os.path.join(self.run.work, "initial.parquet")
        self.rows.write_batch(INITIAL_ROWS, path)
        self.catalog.append(self.run.spark.read.parquet(path), SERVING_TABLE,
                            stats_cols=["amount"], bloom_cols=["id"])
        meters = self.run.meters
        warm = ["day"] * WARM_DAYS
        for _ in range(WARM_SERVING):
            warm += self._cycle()[1:]
        for kind in warm:
            if kind == "day":
                self._deliver()
            m0 = meters.read()
            try:
                self._op(kind)
                self.run.check(True, kind)
            except OpFailed as exc:
                self.run.check(False, str(exc))
            if kind == "day":
                self._print_day("warm-up", meters.delta(m0, meters.read()))

    def _print_day(self, what: str, d: dict) -> None:
        print(f"{what} day {self.day - 1}: wall {d['wall']:.2f}s "
              f"cpu {d['jvm_cpu'] + d['py_cpu']:.2f}s jit {d['jit']:.2f}s",
              file=sys.stderr)

    def _commits(self) -> int:
        return sum(self.catalog.latest_manifest(t)["version"] for t in self.tables)

    def measure(self) -> None:
        cycle = self._cycle()
        v0 = self._commits()
        first = True
        while first or not self.run.done():  # whole cycles
            for kind in cycle:
                if kind == "day":
                    self.input_bytes += self._deliver()
                before = _files(self.lake)
                with self.run.op(kind, block=first):
                    self.input_bytes += self._op(kind)
                self.written += _new_bytes(before, _files(self.lake))
                if kind == "day" and self.run.samples.get("day"):
                    self._print_day("timed", self.run.samples["day"][-1])
            cycle = self._cycle()
            first = False
        self.commits = self._commits() - v0

    def finish(self) -> dict:
        from pyspark.sql import functions as F

        run, cat, w = self.run, self.catalog, self.world
        scd = cat.read("silver.company_details")
        per_key = scd.filter("is_current").groupBy("company_number").count()
        run.check(per_key.count() == w.n and per_key.filter("count <> 1").count() == 0,
                  "silver.company_details: not exactly one current row per company")
        expired = sorted(
            (r.company_number, r.effective_to.replace(microsecond=0))
            for r in scd.filter(~F.col("is_current"))
            .select("company_number", "effective_to").collect())
        truth = sorted((c, dt.datetime(2026, 1, 1) + dt.timedelta(days=d))
                       for c, d in w.expired)
        run.check(expired == truth, f"silver.company_details: {len(expired)} expired "
                  f"rows, the changed keys make {len(truth)}")
        run.check(bool(run.samples.get("compact")),
                  "serve.items: no compaction and vacuum in the timed window")
        dim = cat.read("gold.dim_company").count()
        run.check(dim == w.n, f"gold.dim_company: {dim} rows, expected {w.n}")
        fact = cat.read("gold.fact_fundamentals").count()
        run.check(fact == w.n * w.days,
                  f"gold.fact_fundamentals: {fact} rows, expected {w.n * w.days}")
        # dirs each timed read scanned after manifest pruning
        lookups = [s["counts"]["dirs"] for s in run.tracer.spans
                   if s["name"] == "manifest.prune" and s["op"] is not None]
        return _lake_layer(run, self.lake, cat, self.tables, self.written,
                           self.input_bytes, self.commits, lookups)

    def report(self, layer: dict) -> dict:
        walls = {k: [d["wall"] for d in v] for k, v in self.run.samples.items()}
        points = walls["point"]
        return {
            "day_p50_s": statistics.median(walls["day"]),
            "lookup_p50_ms": 1000 * statistics.median(points),
            # a p90 needs ten samples beyond it; shorter runs report none
            "lookup_p90_ms": 1000 * percentile(points, 90)
            if len(points) >= min_samples_for(90) else None,
            "range_p50_ms": 1000 * statistics.median(walls["range"]),
            "append_p50_ms": 1000 * statistics.median(walls["append"]),
            "compact_p50_ms": 1000 * statistics.median(walls["compact"]),
            "write_amp": layer["sinks.write_amp"][0],
            "storage_amp": layer["sinks.storage_amp"][0],
        }


WORKLOADS = {"query_mix": QueryMix, "lake_daily": LakeDaily}
