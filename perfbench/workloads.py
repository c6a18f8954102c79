"""The two closed-loop workloads of the benchmark.

Each workload has one client that waits for every call to return. It
prepares its seeded inputs and runs one untimed warm-up pass (set-up),
then runs its operation repeatedly: ``first()`` once, then
``op()`` until the run's time is spent. Every operation's output is
checked against a DuckDB oracle between operations, outside the timed
spans. Only the engine's public API is called: ``pipeline.
PipelineRunner`` / ``StagingStore``, ``curation.build_curation``,
``sinks.shards`` and the ``odata_like`` source.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from tracing import Probe

from priority_data_pipeline_azure_sql_db_spark import curation
from priority_data_pipeline_azure_sql_db_spark.config import ExtractionConfig
from priority_data_pipeline_azure_sql_db_spark.pipeline import (
    PipelineRunner,
    StagingStore,
)
from priority_data_pipeline_azure_sql_db_spark.sinks import shards
from priority_data_pipeline_azure_sql_db_spark.sources import odata_like

SF = 0.1          # ERP scale: 150k orders, ~600k lineitems, 15k customers
WARM_SF = 0.002   # warm-up copy: 3k orders
DATA_START = "1990-01-01 00:00:00"
TS_FMT = "%Y-%m-%d %H:%M:%S"


def _parquet_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) of the parquet files under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Workload:
    name = ""
    min_walls = 1  # first() plus op() calls a pass makes at least

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.con = oracle.connect()
        self.errors: list[str] = []
        self.out_bytes = 0
        self.out_rows = 0

    def prepare(self, spark) -> None: ...
    def warmup(self, spark) -> None: ...
    def begin(self, spark) -> None: ...
    def first(self, spark, probe: Probe | None) -> float: ...
    def op(self, spark, probe: Probe | None) -> float: ...
    def instrument(self, probe: Probe) -> list: return []
    def layer_metrics(self, probe: Probe) -> dict: return {}

    def op_walls(self, walls: list[float]) -> list[float]:
        """The walls ``op_s`` is the median of."""
        return walls

    def close(self) -> None:
        self.con.close()

    def fail(self, msg: str) -> None:
        print(f"[perfbench] {self.name}: {msg}", file=sys.stderr)
        self.errors.append(msg)


def _phase(probe, name):
    return contextlib.nullcontext() if probe is None else probe.in_phase(name)


# ---------------------------------------------------------------------------
# erp_refresh: EP2 initial load, then EP1 refresh rounds + read-back
# ---------------------------------------------------------------------------

def erp_config() -> ExtractionConfig:
    return ExtractionConfig.from_dict({
        "datasourceName": "bench", "systemTimezone": "UTC",
        "entities": [
            {"EntityID": "orders", "filterFlag": True,
             "filterField": "o_orderdate", "expand": ["lineitem"],
             "expandKeys": {"o_orderkey": "l_orderkey"},
             "dataStartDate": DATA_START},
            {"EntityID": "customer", "filterFlag": False},
            {"EntityID": "nation", "filterFlag": False},
        ],
    })


def read_back(spark, store: StagingStore) -> dict:
    """The consumers' query over the staged tables (oracle.READ_BACK_SQL
    through the engine's staging read path)."""
    for t in oracle.STAGED_COLS:
        store.read(spark, t).createOrReplaceTempView(t)
    rows = spark.sql(oracle.READ_BACK_SQL.format(
        lineitem="stg_lineitem", orders="stg_orders",
        customer="stg_customer", nation="stg_nation")).collect()
    return {(r[0], r[1]): (int(r[2]), float(r[3])) for r in rows}


class ErpRefresh(Workload):
    name = "erp_refresh"
    min_walls = 2

    def _next(self, stream: gen.DeltaStream, dims: str, root: str,
              runner: PipelineRunner) -> str:
        """Untimed: apply the next delta, write that source snapshot and
        point the runner and its bookmark (the window start) at it."""
        start = stream.advance()
        src = gen.write_tables(stream.tables(),
                               os.path.join(root, f"src{stream.k}"))
        gen.link_tables(dims, ("customer", "nation"), src)
        runner.source_dir = src
        runner.config.entities[0].last_run = start.strftime(TS_FMT)
        return src

    def prepare(self, spark) -> None:
        self.stream = gen.DeltaStream(self.seed, SF)
        dims = gen.dim_tables(self.seed, SF)
        self.dim_rows = sum(t.num_rows for t in dims.values())
        self.dims = gen.write_tables(dims, os.path.join(self.work, "dims"))
        self.src = gen.write_tables(self.stream.tables(),
                                    os.path.join(self.work, "src0"))
        gen.link_tables(self.dims, ("customer", "nation"), self.src)

    def warmup(self, spark) -> None:
        """EP2, one EP1 refresh and the read-back on a small copy."""
        root = os.path.join(self.work, "warm")
        stream = gen.DeltaStream(self.seed + 1, WARM_SF)
        dims = gen.write_tables(gen.dim_tables(self.seed + 1, WARM_SF),
                                os.path.join(root, "dims"))
        src = gen.write_tables(stream.tables(), os.path.join(root, "src0"))
        gen.link_tables(dims, ("customer", "nation"), src)
        store = StagingStore(os.path.join(root, "stg"))
        runner = PipelineRunner(spark, erp_config(), store, src)
        runner.initial_data_load()
        self._next(stream, dims, root, runner)
        runner.refresh_data(incremental=True)
        read_back(spark, store)
        shutil.rmtree(root, ignore_errors=True)

    # -- timed -------------------------------------------------------------

    def _results_ok(self, results, what: str) -> bool:
        bad = [f"{r.entity}: {r.error}" for r in results if r.error]
        for b in bad:
            self.fail(f"{what}: {b}")
        return not bad

    def _check(self, expected: dict, what: str) -> None:
        for msg in oracle.check_staged(self.con, self.store.root, expected):
            self.fail(f"{what}: {msg}")

    def begin(self, spark) -> None:
        """Fresh store and runner over the newest source snapshot."""
        self.store = StagingStore(
            os.path.join(self.work, f"stg{time.monotonic_ns()}"))
        self.runner = PipelineRunner(spark, erp_config(), self.store,
                                     self.src)

    def first(self, spark, probe) -> float:
        """EP2 initial load into the fresh store."""
        t0 = time.perf_counter()
        with _phase(probe, "ep2"):
            results = self.runner.initial_data_load()
        wall = time.perf_counter() - t0
        if self._results_ok(results, "EP2"):
            self._check(oracle.erp_expected(self.src, DATA_START), "EP2")
        return wall

    def op(self, spark, probe) -> float:
        """One EP1 refresh round: the refresh, then the read-back."""
        prev, self.src = self.src, self._next(
            self.stream, self.dims, self.work, self.runner)
        shutil.rmtree(prev, ignore_errors=True)  # keep the newest only
        if probe is not None:
            d = self.stream.last_delta
            probe.add("delta_rows", d["updated"] + d["inserted"]
                      + d["delta_lines"] + self.dim_rows, "ep1")

        t0 = time.perf_counter()
        with _phase(probe, "ep1"):
            results = self.runner.refresh_data(incremental=True)
        with _phase(probe, "read"):
            got = read_back(spark, self.store)
        wall = time.perf_counter() - t0

        what = f"EP1 refresh {self.stream.k}"
        if self._results_ok(results, what):
            expected = oracle.erp_expected(self.src, DATA_START)
            self._check(expected, what)
            if not oracle.same_read_back(
                    got, oracle.read_back_expected(self.con, expected)):
                self.fail(f"{what}: read-back query differs from oracle")
        self.out_rows = sum(v for r in results for v in r.tables.values())
        self.out_bytes = sum(
            _parquet_bytes(self.store.path(t))[1] for t in oracle.STAGED_COLS)
        return wall

    def op_walls(self, walls: list[float]) -> list[float]:
        return walls[1:]  # walls[0] is the EP2 load, not a refresh

    # -- traced ------------------------------------------------------------

    def instrument(self, probe: Probe) -> list:
        store, runner = self.store, self.runner

        def parts(table):
            d = store.path(table)
            out = {}
            if os.path.isdir(d):
                for e in os.scandir(d):
                    if e.is_dir():
                        out[e.name] = e.inode()
            return out

        def before_merge(spark, delta, table, pk):
            return table, parts(table)

        def after_merge(ctx, *a, **k):
            table, old = ctx
            new = parts(table)
            touched = [s for s, ino in new.items() if old.get(s) != ino]
            probe.add("partitions_touched", len(touched))
            probe.add("partitions_total", len(new))
            for s in touched:
                d = os.path.join(store.path(table), s)
                files, size = _parquet_bytes(d)
                probe.add("files_written", files)
                probe.add("bytes_written", size)
                for n in os.listdir(d):
                    if n.endswith(".parquet"):
                        probe.add("rows_rewritten", pq.ParquetFile(
                            os.path.join(d, n)).metadata.num_rows)

        undo = [
            probe.wrap(store, "merge", "merge_s", "pipeline.store.merge",
                       before=before_merge, after=after_merge),
            probe.wrap(store, "overwrite", "overwrite_s",
                       "pipeline.store.overwrite"),
        ]
        for step in ("extract_entity", "parse_entity", "load_entity"):
            undo.append(self._wrap_entity(probe, runner, step))
        return undo

    @staticmethod
    def _wrap_entity(probe, runner, step):
        inner = getattr(runner, step)

        def wrapper(ent, *a, **k):
            t0 = time.perf_counter()
            try:
                return inner(ent, *a, **k)
            finally:
                if probe.phase == "ep1":
                    probe.add(f"entity_s.{ent.entity_id}",
                              time.perf_counter() - t0)

        setattr(runner, step, wrapper)
        return lambda: setattr(runner, step, inner)

    def layer_metrics(self, probe: Probe) -> dict:
        ep1 = ("ep1",)
        delta = probe.per_occurrence("delta_rows", ep1)
        rewritten = probe.per_occurrence("rows_rewritten", ep1)
        m = {
            "pipeline.store.merge_s": probe.per_occurrence("merge_s", ep1),
            "pipeline.store.merge_calls":
                probe.per_occurrence("merge_calls", ep1),
            "pipeline.store.partitions_touched":
                probe.per_occurrence("partitions_touched", ep1),
            "pipeline.store.partitions_total":
                probe.per_occurrence("partitions_total", ep1),
            "pipeline.store.rows_rewritten_per_delta_row":
                rewritten / delta if delta else 0.0,
            "pipeline.store.files_written":
                probe.per_occurrence("files_written", ep1),
            "pipeline.store.bytes_written":
                probe.per_occurrence("bytes_written", ep1),
            "pipeline.store.overwrite_s": probe.per_occurrence(
                "overwrite_s", ("ep2",)),
            "pipeline.store.overwrite_calls": probe.per_occurrence(
                "overwrite_calls", ("ep2",)),
            "pipeline.delta_rows": delta,
        }
        for e in ("orders", "customer", "nation"):
            m[f"pipeline.runner.entity_s.{e}"] = probe.per_occurrence(
                f"entity_s.{e}", ep1)
        return m


# ---------------------------------------------------------------------------
# curation_export: OData pull of HTML pages -> build_curation -> shards
# ---------------------------------------------------------------------------

N_DOCS = 5000
CURATION = {
    "n_buckets": 4096, "width": 8, "min_docs": 2,
    "drop_num": 1, "drop_den": 5, "cap": 100,
}
PAGE_COLS = ("doc_id", "html", "text", "lang", "source")
USER, PASSWORD = "bench", "bench-secret"


def curation_config(p: dict) -> dict:
    return {"stages": [
        {"op": "html_extract"},
        {"op": "dsir", "target_filter": "lang = 'en'",
         "n_buckets": p["n_buckets"]},
        {"op": "linify", "width": p["width"]},
        {"op": "boilerplate_lines", "min_docs": p["min_docs"],
         "stats": True},
        {"op": "quantile_gate", "drop_num": p["drop_num"],
         "drop_den": p["drop_den"],
         "project": ["doc_id", "source", "_n_tokens"]},
        {"op": "source_cap", "cap": p["cap"]},
    ]}


class Corpus:
    """One seeded crawl: the pages on disk (for the oracle) and served
    by a loopback OData server, paged so each core pulls one page."""

    def __init__(self, seed: int, n_docs: int, root: str, cores: int):
        from odata_server import ODataServer, edmx, render_rows

        pages = gen.html_pages(seed, gen.documents(seed, n_docs))
        os.makedirs(root, exist_ok=True)
        self.pages = os.path.join(root, "pages.parquet")
        self.cuts = os.path.join(root, "cuts.parquet")
        pq.write_table(pa.table({k: pages[k] for k in PAGE_COLS}),
                       self.pages)
        pq.write_table(pa.table({"doc_id": pages["doc_id"],
                                 "cut": pages["cut"]}), self.cuts)
        self.server = ODataServer(
            "pages", "doc_id", render_rows(self.pages, "doc_id"),
            edmx({"pages": (pq.read_schema(self.pages), ["doc_id"])}),
            USER, PASSWORD)
        self.page_size = -(-n_docs // cores)
        self.server.prerender(self.page_size)
        self.n_docs = n_docs

    def close(self) -> None:
        self.server.close()


class CurationExport(Workload):
    name = "curation_export"
    MAX_RECORDS = 250

    def prepare(self, spark) -> None:
        odata_like.register(spark)
        self.corpus = Corpus(self.seed, N_DOCS,
                             os.path.join(self.work, "pages"),
                             spark.sparkContext.defaultParallelism)
        self.expected = None
        self.n_ops = 0

    def begin(self, spark) -> None:
        odata_like.register(spark)

    def close(self) -> None:
        corpus = getattr(self, "corpus", None)
        if corpus is not None:
            corpus.close()
        super().close()

    def _export(self, spark, corpus: Corpus, root: str, probe) -> dict:
        landing, out = os.path.join(root, "landing"), os.path.join(
            root, "shards")
        with _phase(probe, "odata"):
            (spark.read.format(odata_like.FORMAT_NAME)
             .option("uri", corpus.server.uri).option("entity", "pages")
             .option("pagesize", str(corpus.page_size))
             .option("user", USER).option("password", PASSWORD)
             .load().write.mode("overwrite").parquet(landing))
        with _phase(probe, "curation_build"):
            t0 = time.perf_counter()
            cur = curation.build_curation(spark.read.parquet(landing),
                                          curation_config(CURATION))
            if probe is not None:
                probe.add("build_s", time.perf_counter() - t0)
        with _phase(probe, "curation_write"):
            t0 = time.perf_counter()
            shards.write_shards(cur, out,
                                max_records_per_file=self.MAX_RECORDS)
            manifest = shards.read_manifest(out)
            if probe is not None:
                probe.add("shards_total_s", time.perf_counter() - t0)
        spark.catalog.clearCache()  # build_curation's documented caches
        return {"out": out, "manifest": manifest}

    def warmup(self, spark) -> None:
        """One untimed export of the real corpus."""
        root = os.path.join(self.work, "warm")
        self._export(spark, self.corpus, root, None)
        shutil.rmtree(root, ignore_errors=True)

    def first(self, spark, probe) -> float:
        return self.op(spark, probe)

    def op(self, spark, probe) -> float:
        self.n_ops += 1
        server = self.corpus.server
        server.reset_counters()
        t0 = time.perf_counter()
        res = self._export(spark, self.corpus, self.work, probe)
        wall = time.perf_counter() - t0
        counters = server.counters()

        what = f"curation export {self.n_ops}"
        if self.expected is None:
            self.expected = oracle.curation_expected(
                self.con, self.corpus.pages, self.corpus.cuts, CURATION)
        landed = oracle.multiset_hash(
            self.con, oracle.staged(self.work, "landing"), oracle.PAGE_COLS)
        if landed != oracle.multiset_hash(
                self.con, oracle.source(os.path.dirname(self.corpus.pages),
                                        "pages"), oracle.PAGE_COLS):
            self.fail(f"{what}: pages landed from OData differ from source")
        got = oracle.curation_exported(self.con, res["out"])
        if got != self.expected:
            self.fail(f"{what}: per-source report differs from oracle")
        rows = sum(e["rows"] for e in res["manifest"])
        if rows != sum(v[0] for v in got.values()):
            self.fail(f"{what}: manifest rows {rows} != exported rows")
        self.out_rows = rows
        self.out_bytes = sum(e["bytes"] for e in res["manifest"])
        if probe is not None:
            w = "curation_write"
            probe.add("rows_in", self.corpus.n_docs, w)
            probe.add("rows_out", rows, w)
            probe.add("shards", len(res["manifest"]), w)
            probe.add("shard_bytes", self.out_bytes, w)
            for k in ("requests", "bytes", "rows", "retries", "busy_s"):
                probe.add(f"server.{k}", counters[k], "odata")
        return wall

    def instrument(self, probe: Probe) -> list:
        # write_shards calls write_manifest through the module global
        return [probe.wrap(shards, "write_manifest", "manifest_s",
                           "sinks.shards.manifest")]

    def layer_metrics(self, probe: Probe) -> dict:
        b, w, o = ("curation_build",), ("curation_write",), ("odata",)
        manifest = probe.per_occurrence("manifest_s", w)
        return {
            "curation.build_s": probe.per_occurrence("build_s", b),
            "curation.rows_in": probe.per_occurrence("rows_in", w),
            "curation.rows_out": probe.per_occurrence("rows_out", w),
            "sinks.shards.write_s":
                probe.per_occurrence("shards_total_s", w) - manifest,
            "sinks.shards.manifest_s": manifest,
            "sinks.shards.shards": probe.per_occurrence("shards", w),
            "sinks.shards.bytes": probe.per_occurrence("shard_bytes", w),
            "sources.odata_like.requests":
                probe.per_occurrence("server.requests", o),
            "sources.odata_like.bytes_fetched":
                probe.per_occurrence("server.bytes", o),
            "sources.odata_like.rows_decoded":
                probe.per_occurrence("server.rows", o),
            "sources.odata_like.retries":
                probe.per_occurrence("server.retries", o),
            "bench.server_busy_s": probe.per_occurrence("server.busy_s", o),
        }


WORKLOADS = {w.name: w for w in (ErpRefresh, CurationExport)}
