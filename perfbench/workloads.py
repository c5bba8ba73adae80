"""The benchmark's workloads: two crawls and the analyst query suite.

A workload prepares its inputs (``prepare``; timed as set-up), runs
one unit of measured work (``run_unit``: a fixed number of crawl
epochs, or one pass over the query list) and checks the outputs
(``check``; not timed). With a ``Tracer`` the unit also records spans
around the program's public functions and the per-layer figures that
need extra Spark jobs; those probe jobs run outside every timed step.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field, replace

from perfbench import checks
from perfbench.trace import Tracer

LINK_COLLECTORS = ("js-comment-loader", "pager__page")
ITEM_TABLES = ("comments", "users", "votes", "articles")


@dataclass
class Unit:
    """One measured unit of work."""

    wall_s: float = 0.0
    steps_s: list[float] = field(default_factory=list)  # epochs, or the whole pass
    windows: list[tuple[float, float]] = field(default_factory=list)  # epochs or queries
    work: int = 0  # URLs fetched or queries answered
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    resume_s: float | None = None
    catalog_bytes: int = 0
    layer: dict[str, float] = field(default_factory=dict)  # traced units only


def _fail(unit: Unit, what: str) -> None:
    unit.failures.append(what)
    traceback.print_exc(file=sys.stderr)


# --------------------------------------------------------------------- crawl


@dataclass(frozen=True)
class CrawlSpec:
    n_docs: int
    n_hosts: int
    n_comments: int
    zipf_skew: float
    seed_all: bool  # seed the whole corpus, else the hash-selected half
    per_host_budget: int
    max_urls_per_epoch: int | None
    bloom_mode: str
    n_host_buckets: int
    expire_keep_snapshots: int | None
    epochs: int  # epochs per unit
    restart: bool  # end the unit with a new engine on the same catalog


CRAWL_SPECS = {
    # every epoch touches about the whole table: the throughput regime
    "crawl_wide": CrawlSpec(
        n_docs=8_000, n_hosts=800, n_comments=3, zipf_skew=3.0, seed_all=False,
        per_host_budget=32, max_urls_per_epoch=None, bloom_mode="global",
        n_host_buckets=256, expire_keep_snapshots=None, epochs=2, restart=False,
    ),
    # small capped epochs over a frontier holding the whole corpus; the
    # bucket count is scaled with the corpus (~600 docs per host bucket)
    "crawl_big_frontier": CrawlSpec(
        n_docs=20_000, n_hosts=2_000, n_comments=1, zipf_skew=1.0, seed_all=True,
        per_host_budget=1, max_urls_per_epoch=500, bloom_mode="partitioned",
        n_host_buckets=32, expire_keep_snapshots=2, epochs=2, restart=True,
    ),
}

TINY_CRAWL = {"n_docs": 400, "n_hosts": 40}


@dataclass
class CrawlPrep:
    root: str
    docs: object
    seeds: object
    engine: object
    times: dict[str, float]
    stats: list = field(default_factory=list)  # EpochStats of every epoch run on it


class Ledger:
    """Commits, files and bytes a catalog gained, read from its
    manifests. ``update`` must run before snapshot expiry can remove
    the manifests it has not seen yet."""

    def __init__(self, root: str):
        self.root = root
        self.heads = {t: checks.head(root, t) for t in checks.tables(root)}
        self.known: dict[str, set[str]] = {}
        for t, h in self.heads.items():
            snap = checks.manifest(root, t, h)
            self.known[t] = set(checks.members(snap)) if snap else set()
        self.commits = 0
        self.files = 0
        self.bytes = 0

    def update(self) -> None:
        for t in checks.tables(self.root):
            h = checks.head(self.root, t)
            known = self.known.setdefault(t, set())
            for sid in range(self.heads.get(t, -1) + 1, h + 1):
                self.commits += 1
                snap = checks.manifest(self.root, t, sid)
                if snap is None:
                    continue
                sizes = snap.get("sizes", {})
                for m in checks.members(snap):
                    if m in known:
                        continue
                    known.add(m)
                    for d, _, files in os.walk(m):
                        for f in files:
                            if f.endswith(".parquet"):
                                self.files += 1
                                if m not in sizes:
                                    self.bytes += os.path.getsize(os.path.join(d, f))
                    self.bytes += sizes.get(m, 0)
            self.heads[t] = h


class CrawlWorkload:
    def __init__(self, spark, name: str, seed: int, work_dir: str, tiny: bool = False):
        spec = CRAWL_SPECS[name]
        self.spec = replace(spec, **TINY_CRAWL) if tiny else spec
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir

    def _engine(self, root: str, docs):
        from scrapetition_spark.config import CrawlConfig, Dispatcher
        from scrapetition_spark.crawl import CrawlEngine
        from scrapetition_spark.sources.catalog import Catalog

        s = self.spec
        cfg = CrawlConfig(
            start_domain="",
            follow_links=True,
            cross_domain=True,
            politeness_sec=0,
            per_host_budget=s.per_host_budget,
            max_urls_per_epoch=s.max_urls_per_epoch,
            n_host_buckets=s.n_host_buckets,
            expire_keep_snapshots=s.expire_keep_snapshots,
            dispatchers=(
                Dispatcher("bench", r"^https://h\d+\.test/.*", "comment",
                           url_collectors=LINK_COLLECTORS),
            ),
        )
        return CrawlEngine(
            self.spark, Catalog(self.spark, root), cfg, docs,
            expected_urls=max(1 << 18, 2 * s.n_docs), bloom_mode=s.bloom_mode,
        )

    def prepare(self, i: int) -> CrawlPrep:
        from pyspark.sql import functions as F

        from scrapetition_spark.sources.fixtures import synthetic_web

        s = self.spec
        t0 = time.perf_counter()
        docs = synthetic_web(
            self.spark, n_docs=s.n_docs, n_hosts=s.n_hosts, fanout=6,
            n_comments=s.n_comments, zipf_skew=s.zipf_skew, seed=self.seed,
        ).localCheckpoint()
        t1 = time.perf_counter()
        seeds = docs.select(F.col("doc_id").alias("target"))
        if not s.seed_all:
            seeds = seeds.filter(F.xxhash64("target") % 2 == 0)
        root = os.path.join(self.work_dir, f"catalog-{i}")
        engine = self._engine(root, docs)
        t2 = time.perf_counter()
        engine.seed_frame(seeds)
        t3 = time.perf_counter()
        times = {"synthetic_web_s": t1 - t0, "seed_frame_s": t3 - t2, "total_s": t3 - t0}
        return CrawlPrep(root, docs, seeds, engine, times)

    def discard(self, prep: CrawlPrep) -> None:
        shutil.rmtree(prep.root, ignore_errors=True)

    def warm_up(self, prep: CrawlPrep) -> None:
        """One untimed epoch, so a traced unit does not run cold."""
        prep.engine.run(max_epochs=1)
        self.discard(prep)

    # ---------------------------------------------------------------- unit

    def run_unit(self, prep: CrawlPrep, index: int, tracer: Tracer | None = None) -> Unit:
        from scrapetition_spark import crawl as C

        unit = Unit()
        stats = []
        probes = {"frontier_rows": 0, "maybe": 0, "unseen": 0, "fp": 0}
        ledger = Ledger(prep.root) if tracer else None
        original = C.CrawlEngine.run_epoch

        def run_epoch(engine, epoch):
            if tracer:
                with tracer.span("trace.probe"):
                    self._probe(engine, prep.root, probes)
                tracer.epoch = epoch
            w0, t0 = time.time(), time.perf_counter()
            with tracer.span("crawl.epoch") if tracer else nullcontext():
                st = original(engine, epoch)
            dt, w1 = time.perf_counter() - t0, time.time()
            if st.urls_due > 0:
                unit.steps_s.append(dt)
                unit.windows.append((w0, w1))
                stats.append(st)
            if tracer:
                with tracer.span("trace.probe"):
                    ledger.update()
            return st

        C.CrawlEngine.run_epoch = run_epoch
        t0 = time.perf_counter()
        engine = prep.engine
        try:
            engine.run(max_epochs=self.spec.epochs)
            if self.spec.restart:
                r0 = time.perf_counter()
                engine = self._engine(prep.root, prep.docs)
                engine.run(max_epochs=1)
                unit.resume_s = time.perf_counter() - r0
        except Exception:
            _fail(unit, f"epoch {len(stats)} raised")
        finally:
            unit.wall_s = time.perf_counter() - t0
            C.CrawlEngine.run_epoch = original
        unit.attempted = len(stats) + len(unit.failures) + (1 if self.spec.restart else 0)
        unit.work = sum(st.urls_due for st in stats)
        unit.catalog_bytes = catalog_bytes(self.spark, prep.root)
        prep.stats.extend(stats)
        if tracer:
            unit.layer = self._layer_metrics(tracer, prep, engine, stats, probes, ledger, unit)
        return unit

    def _probe(self, engine, root: str, acc: dict) -> None:
        """Frontier size and seen-filter answers for this epoch's
        candidates, compared with the exact urls_seen."""
        from pyspark.sql import functions as F

        urls = checks.read_table(self.spark, root, "urls")
        if urls is None:
            return
        cands = urls.filter((F.col("in_frontier") == 1) & F.col("first_seen").isNull())
        if engine.bloom is not None:
            probed = engine.bloom.probe_column(cands.select("url"))
        elif engine.pbloom is not None and checks.head(root, "bloom_sidecar") >= 0:
            probed = engine.pbloom.probe(
                cands.select("url", "host_bucket"),
                checks.read_table(self.spark, root, "bloom_sidecar"),
            )
        else:
            probed = cands.select("url", F.lit(False).alias("__maybe_seen"))
        seen = checks.read_table(self.spark, root, "urls_seen")
        if seen is None:
            probed = probed.withColumn("__s", F.lit(None).cast("int"))
        else:
            probed = probed.join(seen.select("url", F.lit(1).alias("__s")), ["url"], "left")
        maybe = F.col("__maybe_seen")
        unseen = F.col("__s").isNull()
        r = probed.agg(
            F.count("*").alias("n"),
            F.sum(maybe.cast("int")).alias("maybe"),
            F.sum(unseen.cast("int")).alias("unseen"),
            F.sum((maybe & unseen).cast("int")).alias("fp"),
        ).first()
        acc["frontier_rows"] += r["n"]
        acc["maybe"] += r["maybe"] or 0
        acc["unseen"] += r["unseen"] or 0
        acc["fp"] += r["fp"] or 0

    def install_tracing(self, tracer: Tracer) -> None:
        from scrapetition_spark import crawl as C
        from scrapetition_spark.plans.seen import BloomFilter, PartitionedBloom
        from scrapetition_spark.sources.catalog import Catalog

        tracer.wrap(C.CrawlEngine, "run", "crawl.run")
        tracer.wrap(C, "plan_due", "plans.frontier.plan_due")
        tracer.wrap(C, "assign_fetch_seq", "plans.frontier.assign_fetch_seq")
        tracer.wrap(C, "parse_pages", "parse.kernel.parse_pages")
        tracer.wrap(C, "discover_urls", "parse.kernel.discover_urls")
        tracer.wrap(BloomFilter, "build_from", "plans.seen.build_from")
        tracer.wrap(PartitionedBloom, "build", "plans.seen.build")
        tracer.wrap(PartitionedBloom, "or_merge", "plans.seen.or_merge")

        def table_of(a, k):
            return k.get("table", a[1] if len(a) > 1 else "?")

        def partitions_name(a, k):
            table = table_of(a, k)
            if table != "urls":
                return f"sources.catalog.overwrite_partitions.{table}"
            touched = k.get("touched", a[4] if len(a) > 4 else None)
            kind = "full" if touched is None else "scoped"
            return f"sources.catalog.overwrite_partitions.urls.{kind}"

        for method in ("merge_insert", "overwrite", "append_bucketed", "append",
                       "read_buckets", "expire_snapshots"):
            tracer.wrap(Catalog, method,
                        lambda a, k, m=method: f"sources.catalog.{m}.{table_of(a, k)}")
        tracer.wrap(Catalog, "overwrite_partitions", partitions_name)

    def _layer_metrics(self, tracer, prep, engine, stats, probes, ledger, unit) -> dict:
        from scrapetition_spark.sources.catalog import Catalog

        m: dict[str, float] = {}
        for stage in ("due", "fetch", "parse", "discovered", "sinks", "metrics"):
            m[f"crawl.stage.{stage}_s"] = sum(
                (st.stage_seconds or {}).get(stage, 0.0) for st in stats
            )
        m["crawl.between_epochs_s"] = max(
            0.0,
            tracer.total("crawl.run") - tracer.total("crawl.epoch")
            - tracer.total("trace.probe"),
        )
        m["crawl.urls_due"] = sum(st.urls_due for st in stats)
        m["crawl.urls_discovered"] = sum(st.urls_discovered for st in stats)
        m["crawl.resume_s"] = unit.resume_s or 0.0

        m["plans.frontier.plan_due_s"] = tracer.total("plans.frontier.plan_due")
        m["plans.frontier.assign_fetch_seq_s"] = tracer.total("plans.frontier.assign_fetch_seq")
        m["plans.frontier.frontier_rows"] = probes["frontier_rows"]
        m["plans.frontier.due_ratio"] = (
            m["crawl.urls_due"] / probes["frontier_rows"] if probes["frontier_rows"] else 0.0
        )

        m["plans.seen.bloom_build_s"] = tracer.total("plans.seen")
        if engine.bloom is not None:
            m["plans.seen.sidecar_bytes"] = engine.bloom.bits.nbytes
        else:
            m["plans.seen.sidecar_bytes"] = Catalog(self.spark, prep.root).table_bytes(
                "bloom_sidecar"
            )
        m["plans.seen.maybe_seen_ratio"] = (
            probes["maybe"] / probes["frontier_rows"] if probes["frontier_rows"] else 0.0
        )
        m["plans.seen.false_positive_ratio"] = (
            probes["fp"] / probes["unseen"] if probes["unseen"] else 0.0
        )

        fetched = max(1, m["crawl.urls_due"])
        m["parse.kernel.parse_pages_s"] = tracer.total("parse.kernel.parse_pages")
        m["parse.kernel.discover_urls_s"] = tracer.total("parse.kernel.discover_urls")
        items = 0
        for t in ITEM_TABLES:
            df = checks.read_table(self.spark, prep.root, t)
            items += df.count() if df is not None else 0
        m["parse.kernel.items_per_page"] = items / fetched
        m["parse.kernel.links_per_page"] = m["crawl.urls_discovered"] / fetched

        for t in ("comments", "url_edges"):
            m[f"sources.catalog.merge_insert.{t}_s"] = tracer.total(
                f"sources.catalog.merge_insert.{t}"
            )
        for method in ("overwrite", "overwrite_partitions", "append_bucketed", "append",
                       "read_buckets", "expire_snapshots"):
            m[f"sources.catalog.{method}_s"] = tracer.total(f"sources.catalog.{method}")
        m["sources.catalog.commits"] = ledger.commits
        m["sources.catalog.files_written"] = ledger.files
        m["sources.catalog.bytes_written_mb"] = ledger.bytes / 1e6
        scoped = tracer.count("sources.catalog.overwrite_partitions.urls.scoped")
        urls_commits = scoped + sum(
            tracer.count(n) for n in (
                "sources.catalog.overwrite_partitions.urls.full",
                "sources.catalog.overwrite.urls",
                "sources.catalog.merge_insert.urls",
            )
        )
        m["sources.catalog.scoped_commit_share"] = scoped / urls_commits if urls_commits else 0.0
        # sink spans: the outermost spans the sink pool's threads record
        main = {sp.thread for sp in tracer.spans if sp.name == "crawl.epoch"}
        by_id = {sp.id: sp for sp in tracer.spans}
        sink = sum(
            sp.seconds for sp in tracer.spans
            if sp.thread not in main and (sp.parent is None or by_id[sp.parent].thread in main)
        )
        sinks_s = m["crawl.stage.sinks_s"]
        m["sources.catalog.sink_overlap"] = sink / sinks_s if sinks_s else 0.0
        m["sources.catalog.bytes_per_url"] = unit.catalog_bytes / fetched
        layers = ["crawl", "plans.frontier", "plans.seen", "parse.kernel", "sources.catalog"]
        for layer, s in tracer.layer_self_seconds(layers).items():
            m[f"{layer}.self_s"] = s
        return m

    def check(self, prep: CrawlPrep, unit: Unit) -> list[tuple[str, bool, str]]:
        s = self.spec
        return checks.crawl_checks(
            self.spark, prep.root, prep.docs, prep.seeds,
            sum(st.urls_due for st in prep.stats),
            s.per_host_budget, s.max_urls_per_epoch, s.n_comments, LINK_COLLECTORS,
        )


def catalog_bytes(spark, root: str) -> int:
    from scrapetition_spark.sources.catalog import Catalog

    cat = Catalog(spark, root)
    return sum(cat.table_bytes(t) for t in cat.tables())


# ----------------------------------------------------------------- analytics

# query key -> operators module it exercises
QUERIES = {
    "a5_counts_per_domain": "analytics",
    "a7_top_visited": "analytics",
    "a10_answer_graph": "analytics",
    "a10b_answer_graph_comments": "analytics",
    "a11_cooccurrence": "analytics",
    "a11b_cooccurrence_comments": "analytics",
    "a14_concomitance": "analytics",
    "a18_user_sessions": "analytics",
    "c12_thread_propagation": "threads",
    "a16_pagerank": "graph",
    "d1_exact_dedup": "dedup",
    "d2_minhash_lsh": "dedup",
    "d3_ngram_jaccard": "dedup",
    "d8_segment_dedup": "dedup",
    "d10_semantic_dedup": "dedup",
    "s1_cosine_topk": "similarity",
    "s4_kmeans": "similarity",
    "t3_fingerprints": "text",
    "t5_repetition_scores": "text",
    "t10_epoch_shuffle": "text",
    "p2_full_pipeline": "text",
}


def value_hash(df) -> str:
    """Order-insensitive hash of a result frame: columns sorted by
    name, floats rounded to 6 places, rows sorted as strings."""
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        if d[c].dtype.kind == "f":
            d[c] = d[c].round(6)
        d[c] = d[c].astype(str)
    rows = sorted("\x1f".join(r) for r in d.itertuples(index=False, name=None))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


# the tables the 21 queries read: the sf0.01 test tables TESTDATA.md
# describes (TPC-H-like star schema, events, documents, embeddings),
# copied unchanged so that a checkout holds them
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("customer", "documents", "embeddings", "events", "lineitem", "nation",
          "orders", "supplier")


@dataclass
class AnalyticsPrep:
    expected: dict[str, tuple[int, str] | None]
    times: dict[str, float]
    results: dict = field(default_factory=dict)


class AnalyticsWorkload:
    """The inputs are fixed; the seed only sets the query order."""

    def __init__(self, spark, name: str, seed: int, work_dir: str, tiny: bool = False):
        self.spark = spark
        self.seed = seed

    def prepare(self, i: int) -> AnalyticsPrep:
        import duckdb

        import __spark_entry__ as E

        t0 = time.perf_counter()
        oracles = E.oracle_sql()
        expected: dict[str, tuple[int, str] | None] = {}
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(DATA_DIR, t)}.parquet')")
            for key in QUERIES:
                try:
                    odf = con.sql(oracles[key]).df()
                    expected[key] = (len(odf), value_hash(odf))
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    expected[key] = None
        finally:
            con.close()
        t1 = time.perf_counter()
        # load every table into the engine once (a scan and a
        # driver-side collect), so the first timed query does not carry
        # the session's one-off start-up work
        for t in TABLES:
            self.spark.read.parquet(os.path.join(DATA_DIR, f"{t}.parquet")).count()
        self.spark.read.parquet(os.path.join(DATA_DIR, "nation.parquet")).toPandas()
        t2 = time.perf_counter()
        return AnalyticsPrep(expected, {"oracle_s": t1 - t0, "load_s": t2 - t1,
                                        "total_s": t2 - t0})

    def warm_up(self, prep: AnalyticsPrep) -> None:
        """One untimed pass, so a traced pass does not run cold."""
        self.run_unit(prep, -1)

    def install_tracing(self, tracer: Tracer) -> None:
        pass  # spans are opened around each query in run_unit

    def run_unit(self, prep: AnalyticsPrep, index: int, tracer: Tracer | None = None) -> Unit:
        import __spark_entry__ as E

        qs = E.queries()
        order = list(QUERIES)
        random.Random(self.seed * 1009 + index).shuffle(order)
        unit = Unit()
        prep.results = {}
        for key in order:
            unit.attempted += 1
            name = f"operators.{QUERIES[key]}.{key}"
            w0, t0 = time.time(), time.perf_counter()
            try:
                with tracer.span(name) if tracer else nullcontext():
                    pdf = qs[key](self.spark, DATA_DIR).toPandas()
            except Exception:
                _fail(unit, f"query {key} raised")
                continue
            unit.wall_s += time.perf_counter() - t0
            unit.windows.append((w0, time.time()))
            unit.work += 1
            prep.results[key] = pdf
        unit.steps_s.append(unit.wall_s)
        if tracer:
            unit.layer = {
                f"operators.{mod}.{key}_s": tracer.total(f"operators.{mod}.{key}")
                for key, mod in QUERIES.items()
            }
        return unit

    def check(self, prep: AnalyticsPrep, unit: Unit) -> list[tuple[str, bool, str]]:
        out = []
        for key, pdf in prep.results.items():
            want = prep.expected.get(key)
            got = (len(pdf), value_hash(pdf))
            ok = want is not None and got == want
            detail = "oracle failed" if want is None else f"{got[0]} rows vs oracle {want[0]}"
            out.append((f"oracle_{key}", ok, detail))
        prep.results = {}
        return out


def make(spark, name: str, seed: int, work_dir: str, tiny: bool = False):
    if name in CRAWL_SPECS:
        return CrawlWorkload(spark, name, seed, work_dir, tiny)
    return AnalyticsWorkload(spark, name, seed, work_dir, tiny)


WORKLOADS = (*CRAWL_SPECS, "analytics_suite")
