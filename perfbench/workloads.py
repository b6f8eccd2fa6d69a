"""The three workloads. Each is a single-client closed loop: the next
operation starts when the previous one has returned.

- ``etl_star``: full ``build_star`` runs, the star memo cleared before
  each, so every build writes the whole warehouse.
- ``bi_reports``: rounds of the 15 ``report_r*`` queries, each round in
  a seeded random order, against a warehouse built once during set-up.
- ``corpus_curation``: passes over eight corpus steps (curation gate,
  four dedup tiers, Bloom decontamination, repetition signals, C4
  filters) over the generated documents and embeddings.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import tempfile
import time

import pyarrow.parquet as pq

from spec import CORPUS_STEPS, REPORTS

_PYTHON_NODE = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsIn(?:Pandas|Arrow)\w*|FlatMapCoGroupsIn(?:Pandas|Arrow)"
    r"|AggregateInPandas|ArrowAggregatePython|WindowInPandas|ArrowWindowPython)\b"
)

# the two hash-seeded corpus steps, checked against invariants (checks.py)
INVARIANT_STEPS = ("ext_dedup_minhash_survivors", "ext_decontamination_bloom")
STAR_TABLES = ("dim_date", "dim_customer", "dim_location", "dim_product", "fact_sales")
# source tables build_star reads (events, documents, embeddings are not)
STAR_SOURCES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def plan_facts(df) -> dict:
    """The ``plans`` census and the Catalyst phase times of a frame. Asking
    for the executed plan runs analysis, optimization and planning on the
    frame's own QueryExecution, which the later action reuses."""
    from film_media_etl_spark.plans.audit import physical_plan, plan_summary

    census = plan_summary(df)
    phases = df._jdf.queryExecution().tracker().phases()
    out = {
        "exchanges": census["exchanges"],
        "single_partition_exchanges": census["single_partition_exchanges"],
        "python_nodes": len(_PYTHON_NODE.findall(physical_plan(df))),
    }
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"{phase}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
    return out


def tail(values: list[float]) -> tuple[float, int] | None:
    """(value, percentile) of the highest percentile that still has ten
    samples beyond it, or None with fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], (100 * (n - 10)) // n


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self) -> None:
        raise NotImplementedError

    def batches(self):
        """Endless iterator of op-name lists; the loop finishes a whole
        batch before it looks at the clock."""
        raise NotImplementedError

    def run_op(self, name: str) -> dict:
        raise NotImplementedError

    def check(self, ops: list[dict], oracle) -> None:
        raise NotImplementedError

    def metrics(self, ops: list[dict]) -> dict:
        raise NotImplementedError

    # -- shared ---------------------------------------------------------

    def run_query(self, name: str) -> dict:
        """Construct, plan (traced runs only) and collect one registry query."""
        ctx, tr = self.ctx, self.ctx.tracer
        rec = {"name": name, "error": None}
        t0 = time.perf_counter()
        try:
            with tr.span("op", name) as op:
                with tr.span("construct", name):
                    df = ctx.queries[name](ctx.spark, ctx.sf_dir)
                if tr.enabled:
                    with tr.span("plan", name):
                        rec["plan"] = plan_facts(df)
                with tr.span("execute", name):
                    rows = df.collect()
            rec["cols"], rec["rows"] = df.columns, rows
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        rec["wall_s"] = time.perf_counter() - t0
        rec["span"] = op["id"] if tr.enabled else None
        return rec

    def check_oracle(self, rec: dict, oracle) -> None:
        if rec["error"] is None:
            rec["error"] = oracle.compare(rec["name"], rec["cols"], rec["rows"])


class EtlStar(Workload):
    name = "etl_star"
    probes = tuple(f"star_{t}" for t in STAR_TABLES) + ("star_sales_summary",)

    def __init__(self, ctx):
        super().__init__(ctx)
        from film_media_etl_spark.etl import star

        self.star = star
        self.warehouse = os.path.join(
            tempfile.gettempdir(), f"fmes_warehouse_{os.getpid()}",
            os.path.basename(ctx.sf_dir.rstrip("/")),
        )
        self._dims = self._fact = None
        if ctx.tracer.enabled:
            self._trace_fact_entry()

    def _trace_fact_entry(self) -> None:
        """Split a traced build at build_fact_sales' entry: etl.dims before
        it, etl.fact after, with the fact frame's plan census as a child."""
        star, tr = self.star, self.ctx.tracer
        orig = star.build_fact_sales

        def build_fact_sales(*args, **kwargs):
            if self._dims is None:
                return orig(*args, **kwargs)
            tr.close(self._dims)
            self._dims = None
            self._fact = tr.open("etl.fact")
            df = orig(*args, **kwargs)
            with tr.span("plan", "fact_sales"):
                self._plan = plan_facts(df)
            return df

        star.build_fact_sales = build_fact_sales

    def setup(self) -> None:
        self.star._STAR_CACHE.clear()
        self.star.build_star(self.ctx.spark, self.ctx.sf_dir)

    def batches(self):
        while True:
            yield ["build_star"]

    def run_op(self, name: str) -> dict:
        tr = self.ctx.tracer
        rec = {"name": name, "error": None}
        self.star._STAR_CACHE.clear()
        self._plan = None
        t0 = time.perf_counter()
        try:
            with tr.span("op", name) as op:
                self._dims = tr.open("etl.dims")
                try:
                    self.star.build_star(self.ctx.spark, self.ctx.sf_dir)
                finally:
                    tr.close(self._dims)
                    tr.close(self._fact)
                    self._dims = self._fact = None
        except Exception as exc:  # noqa: BLE001
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        rec["wall_s"] = time.perf_counter() - t0
        rec["span"] = op["id"] if tr.enabled else None
        rec["plan"] = self._plan
        rec["warehouse"] = self._listing()
        return rec

    def _listing(self) -> dict:
        """Parquet files, bytes and rows (from the footers) per star table."""
        out = {}
        for table in STAR_TABLES:
            files = []
            for root, _, names in os.walk(os.path.join(self.warehouse, table)):
                files += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
            out[table] = {
                "files": len(files),
                "bytes": sum(os.path.getsize(f) for f in files),
                "rows": sum(pq.read_metadata(f).num_rows for f in files),
            }
        return out

    def check(self, ops: list[dict], oracle) -> None:
        # the memo holds the last build: read back every star table
        last = ops[-1]
        probes = [] if last["error"] else [self.run_query(q) for q in self.probes]
        expected = {t: len(oracle.rows(f"star_{t}")) for t in STAR_TABLES}
        for rec in ops:
            if rec["error"] is None:
                got = {t: rec["warehouse"][t]["rows"] for t in STAR_TABLES}
                if got != expected:
                    rec["error"] = f"warehouse rows {got} != oracle {expected}"
        for probe in probes:
            err = probe["error"] or oracle.compare(probe["name"], probe["cols"], probe["rows"])
            if err and not last["error"]:
                last["error"] = f"{probe['name']}: {err}"

    def metrics(self, ops: list[dict]) -> dict:
        walls = [r["wall_s"] for r in ops]
        p50 = statistics.median(walls)
        wh = ops[-1]["warehouse"]
        src = sum(os.path.getsize(os.path.join(self.ctx.sf_dir, f"{t}.parquet")) for t in STAR_SOURCES)
        fact_rows = wh["fact_sales"]["rows"]
        return {
            "p50_ms": 1000.0 * p50,
            "named": {
                "etl_rows_per_s": {"value": fact_rows / p50, "unit": "rows/s"},
                "warehouse_bytes_per_source_byte": {
                    "value": sum(v["bytes"] for v in wh.values()) / src, "unit": "ratio",
                },
            },
        }


class BiReports(Workload):
    name = "bi_reports"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.names = list(REPORTS)

    def setup(self) -> None:
        from film_media_etl_spark.etl import star

        star._STAR_CACHE.clear()
        star.build_star(self.ctx.spark, self.ctx.sf_dir)
        for name in self.names:
            self.ctx.queries[name](self.ctx.spark, self.ctx.sf_dir).collect()

    def batches(self):
        # whole shuffled rounds, so every run times each report equally often
        rng = random.Random(self.ctx.seed)
        while True:
            order = list(self.names)
            rng.shuffle(order)
            yield order

    def run_op(self, name: str) -> dict:
        return self.run_query(name)

    def check(self, ops: list[dict], oracle) -> None:
        for rec in ops:
            self.check_oracle(rec, oracle)

    def metrics(self, ops: list[dict]) -> dict:
        walls = [r["wall_s"] for r in ops]
        p50 = statistics.median(walls)
        named = {"report_p50_ms": {"value": 1000.0 * p50, "unit": "ms"}}
        t = tail(walls)
        if t is not None:
            named["report_tail_ms"] = {
                "value": 1000.0 * t[0], "unit": "ms", "percentile": t[1], "samples": len(walls),
            }
        return {"p50_ms": 1000.0 * p50, "named": named}


class CorpusCuration(Workload):
    name = "corpus_curation"

    def setup(self) -> None:
        for name in CORPUS_STEPS:
            self.ctx.queries[name](self.ctx.spark, self.ctx.sf_dir).collect()

    def batches(self):
        while True:
            yield list(CORPUS_STEPS)

    def run_op(self, name: str) -> dict:
        return self.run_query(name)

    def check(self, ops: list[dict], oracle) -> None:
        invariants = dict(zip(INVARIANT_STEPS, (oracle.minhash_survivors, oracle.bloom_screen)))
        for rec in ops:
            if rec["name"] in invariants:
                if rec["error"] is None:
                    rec["error"] = invariants[rec["name"]](rec["rows"])
            else:
                self.check_oracle(rec, oracle)

    def metrics(self, ops: list[dict]) -> dict:
        k = len(CORPUS_STEPS)
        passes = [sum(r["wall_s"] for r in ops[i:i + k]) for i in range(0, len(ops), k)]
        p50 = statistics.median(passes)
        docs = pq.read_metadata(os.path.join(self.ctx.sf_dir, "documents.parquet")).num_rows
        return {
            "p50_ms": 1000.0 * p50,
            "named": {"corpus_docs_per_s": {"value": docs / p50, "unit": "docs/s"}},
        }


WORKLOADS = {w.name: w for w in (EtlStar, BiReports, CorpusCuration)}
