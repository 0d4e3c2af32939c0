"""The two workloads. Each is one client in a closed loop: an operator who
starts a crawl step and waits for it to commit before starting the next.

Both follow the same shape:
  setup  - generate the site from the seed and crawl a base store. The
           first crawl round of the process runs here, so the JVM's cold
           start (class loading, JIT, code generation, Python workers) is
           paid in `setup_s`, not in the timed operation;
  op     - restore a fresh copy of the base store (untimed), then time the
           operation through the engine's public API;
  check  - compare the store the operation left against an oracle (untimed).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, replace
from pathlib import Path

from perfbench import oracles

HOSTS = tuple(f"h{i:02d}.gepris.example.org" for i in range(4))
TYPED_TABLES = {"project": "projects", "person": "persons", "institution": "institutions"}


@dataclass
class OpResult:
    seconds: float  # wall of the timed part
    pages: int  # pages the operation worked on (fetched, or due and revalidated)
    check: oracles.Check
    cpu_seconds: float  # CPU time of the timed part, over the whole process tree
    round_cpu_seconds: list[float]  # CPU time of each round, from run_round call to return
    store_bytes: int = 0  # size of the store the operation left
    store_files: int = 0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the driver JVM, Spark's Python daemon and workers.
    Children that already ended count through their parent's cutime/cstime.
    Time the host steals from the machine's vCPUs is not CPU time, so this
    clock does not run faster when the host is busy; wall time does."""
    procs = {}  # pid -> (ppid, utime + stime + cutime + cstime)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                raw = Path(f"/proc/{d}/stat").read_text()
            except OSError:
                continue  # ended while we looked: its time is in its parent's cutime
            fields = raw[raw.rindex(")") + 2:].split()  # the fields after the command name
            procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, ()))
    return ticks / _TICK


def _store_size(path: Path) -> tuple[int, int]:
    files = [f for f in path.rglob("*") if f.is_file()]
    return sum(f.stat().st_size for f in files), len(files)


def _site(seed: int, **kw):
    from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

    n = kw.pop("n_projects")
    return SiteConfig(hosts=HOSTS, n_projects=n, n_persons=int(n * 0.4),
                      n_institutions=int(n * 0.1), seed=seed, page_weight=8, **kw)


def _rows(store, table: str) -> int:
    """Rows of a typed table over all committed rounds, from parquet footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for r in store.committed_rounds()
               for f in store.table_path(table, r).glob("*.parquet"))


def _seen(store) -> dict[str, tuple[int, int]]:
    from ba_gepris_crawler_spark.plans.round_loop import published_tables

    rows = published_tables(store)["url_seen"].select("url", "round", "status").collect()
    return {r["url"]: (r["round"], r["status"]) for r in rows}


class Workload:
    name = ""
    MIN_OPS = 1  # timed operations a run makes however short its window

    def __init__(self, spark, seed: int, n_slots: int, work: Path):
        self.spark, self.seed, self.n_slots, self.work = spark, seed, n_slots, work
        self.base = work / "base-store"
        self._ops = 0

    def _fresh_store(self):
        from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore

        self._ops += 1
        path = self.work / f"op-{self._ops}"
        shutil.copytree(self.base, path)
        return SnapshotStore(self.spark, str(path)), path

    def params(self) -> dict:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def op(self) -> OpResult:
        raise NotImplementedError


class CrawlPolite(Workload):
    """Few hosts and a small per-host budget: the reference's shape. The
    budget cuts every host each round, about 2% of detail pages answer 503
    for good, and compaction runs after every round. Setup commits round 0
    (the catalog seeds); the timed operation resumes the crawl for one
    round of a few hundred pages, so the per-round fixed cost dominates.
    One round is all a run can afford: a round costs ~10 s on a 4-core
    machine, and every run also pays ~35 s of JVM start and cold round 0."""

    name = "crawl_polite"
    ROUND = 1  # the timed round

    def __init__(self, *a):
        super().__init__(*a)
        from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig
        from ba_gepris_crawler_spark.plans.round_loop import CrawlSettings

        self.site = _site(self.seed, n_projects=500, hits_per_page=50, error_mod=50)
        self.settings = CrawlSettings(
            n_buckets=self.n_slots,
            politeness=PolitenessConfig(per_host_rate=100.0, round_seconds=1.0, max_in_flight=10),
            compact_every=1,
            extract=True,
        )

    def params(self) -> dict:
        return {"site": repr(self.site), "settings": repr(self.settings)}

    def setup(self) -> None:
        from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
        from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine
        from ba_gepris_crawler_spark.testing.golden_crawl import simulate_crawl

        # the golden crawl depends only on the site and the budget: once per run
        self.golden = simulate_crawl(self.site, self.settings.politeness.per_host_budget,
                                     n_buckets=self.settings.n_buckets)
        last = self.ROUND  # the store an operation leaves ends at this round
        self.golden_seen = {u: r for u, r in self.golden.seen.items() if r <= last}
        self.golden_errors = {u for u, _, r in self.golden.errors if r <= last}
        self.golden_typed = {t: sum(1 for d in self.golden.docs.values() if d[0] == rt and d[1] and d[3] <= last)
                             for rt, t in TYPED_TABLES.items()}
        m = CrawlEngine(self.spark, self.site, SnapshotStore(self.spark, str(self.base)),
                        self.settings).run_round(0)
        if m["counters"].get("done"):
            raise RuntimeError("round 0 fetched nothing")

    def op(self) -> OpResult:
        from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine

        store, path = self._fresh_store()
        engine = CrawlEngine(self.spark, self.site, store, self.settings)
        c0, t0 = tree_cpu_s(), time.time()
        m = engine.run_round(self.ROUND)  # round 0 is in the store: a resumed crawl
        seconds, cpu = time.time() - t0, tree_cpu_s() - c0
        typed = {t: _rows(store, t) for t in TYPED_TABLES.values()}
        check = oracles.check_crawl(_seen(store), self.golden_seen, self.golden_errors,
                                    typed, self.golden_typed, {self.ROUND})
        size = _store_size(path)
        shutil.rmtree(path, ignore_errors=True)
        return OpResult(seconds, m["counters"]["fetched"], check, cpu, [cpu], *size)


class RecrawlRevalidate(Workload):
    """Revalidate a whole crawled store whose site has not changed. Setup
    crawls the site in one round (catalog seeds plus every detail page as
    extra seeds, the sitemap-seeded start). The timed operation stages the
    recrawl with every page due (`enqueue_recrawl(now_round=latest+100)`)
    and runs one round with `revalidate=True`: every page answers 304, so
    fetch ships no bodies and parse and extraction are bypassed. Round 0
    compiles none of the recrawl's plans (history scan, validators, the 304
    path), and the JIT works through them over the next cycles, moving CPU
    from one cycle to the next by how far it got. A run times two cycles
    and reports their sum, which that shift does not change: the CPU of one
    cycle after an untimed one spread ~0.12 of the median over ten runs."""

    name = "recrawl_revalidate"
    MIN_OPS = 2

    def __init__(self, *a):
        super().__init__(*a)
        from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig
        from ba_gepris_crawler_spark.plans.round_loop import CrawlSettings

        self.site = _site(self.seed, n_projects=250, hits_per_page=1000)
        self.settings = CrawlSettings(
            n_buckets=self.n_slots,
            politeness=PolitenessConfig(per_host_rate=1000.0, round_seconds=1.0, max_in_flight=10),
            extract=True,
        )

    def params(self) -> dict:
        return {"site": repr(self.site), "settings": repr(replace(self.settings, revalidate=True))}

    def _site_pages(self) -> dict[str, int]:
        from ba_gepris_crawler_spark.sources.synthetic_site import (
            RESOURCE_TYPES, detail_url, render_page, seed_urls)

        urls = seed_urls(self.site) + [detail_url(self.site, t, i)
                                       for t in RESOURCE_TYPES for i in self.site.ids(t)]
        return {u: render_page(self.site, u)[0] for u in urls}

    def setup(self) -> None:
        from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
        from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine
        from ba_gepris_crawler_spark.sources.synthetic_site import render_page

        self.expected = self._site_pages()
        store = SnapshotStore(self.spark, str(self.base))
        engine = CrawlEngine(self.spark, self.site, store, self.settings)
        engine.seed_urls_df = self.spark.createDataFrame([(u,) for u in self.expected], "url string")
        engine.run_round(0)
        self.store_pages = {u: s for u, (_, s) in _seen(store).items()}
        # links to ids the site never lists stay in the frontier; the
        # revalidated round fetches them next to the due pages
        self.leftover = {r["url"]: render_page(self.site, r["url"])[0]
                         for r in store.read_state("frontier", 0).select("url").collect()}

    def op(self) -> OpResult:
        from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine

        store, path = self._fresh_store()
        engine = CrawlEngine(self.spark, self.site, store, replace(self.settings, revalidate=True))
        latest = store.latest_round()
        c0, t0 = tree_cpu_s(), time.time()
        due = engine.enqueue_recrawl(now_round=latest + 100)
        c1 = tree_cpu_s()
        m = engine.run_round(latest + 1)
        c2, t2 = tree_cpu_s(), time.time()
        rows = store.read_state("url_seen", latest + 1).select("url", "status").collect()
        extracted = sum(v for k, v in m["tables"].items() if k in TYPED_TABLES.values())
        check = oracles.check_revalidate(self.store_pages, self.expected, due,
                                         {r["url"]: r["status"] for r in rows}, self.leftover, extracted)
        size = _store_size(path)
        shutil.rmtree(path, ignore_errors=True)
        return OpResult(t2 - t0, m["counters"].get("revalidated", 0), check, c2 - c0, [c2 - c1], *size)


WORKLOADS = {w.name: w for w in (CrawlPolite, RecrawlRevalidate)}
