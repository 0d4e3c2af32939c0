"""Snapshot store: atomic per-round commits with lineage, parquet-backed.

The sandbox has no Iceberg runtime jars, so this module implements the same
contract over parquet directories + JSON manifests (SURVEY.md §7.4 risk 4):

    <root>/rounds/round=<k>/<table>/...parquet     (data, written first)
    <root>/manifests/round-<k>.json                (commit = atomic rename)

A round is visible iff its manifest exists; manifests are written via
tmp-file + os.replace, so a crash mid-round leaves only orphaned data dirs
that the deterministic re-run overwrites — the mid-round resume contract of
the north rule. Each manifest carries row counts, fetch counters, the bloom
shard version, and per-partition lineage (per host_bucket: fetched /
deferred counts) mirroring the reference's three resume mechanisms (stage
dirs / crawled-id CSVs / count gate — GeprisCrawler.scala:31-38,
CrawlResourceDetailsGraph.scala:20-53, GetAndSaveResourceIdsToCrawlGraph.scala:24-38).

Swapping this for Iceberg = replacing _write/_read with
`df.writeTo(...).createOrReplace()` / snapshot reads; the engine API is
unchanged.

DELTA tables (url_seen, documents, eav, ...) append one directory per
round and are read as a union; STATE tables (frontier) are full rewrites
read at a single round.

COMPACTION: at thousands of rounds the delta union is an unbounded
small-file list and the exact-seen anti-join right side has no clustered
layout. `compact(name, upto)` merges the current base + tail deltas into
ONE hash-clustered snapshot under compacted/<name>/upto=<k>/ (files
clustered by xxhash64(key) % n_buckets — bounded file count, co-clustered
for the seen anti-join), committed by an atomic manifest rename just like
rounds; `read_union` then reads base + only the tail deltas after it.
Compaction is pure optimization — the row set is identical, so resume
determinism is unaffected, and a crash mid-compaction leaves an orphan dir
that is simply ignored (no manifest). At the 10^10-URL regime the
periodic full rewrite would itself be tiered (merge only deltas into
bucket files, Iceberg rewrite_data_files-style); the read contract here
is the same.
"""

from __future__ import annotations

import json
import os
import re
import time
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class SnapshotStore:
    def __init__(self, spark: SparkSession | None, root: str | os.PathLike):
        # spark=None is allowed for pure-filesystem maintenance (CLI gc)
        self.spark = spark
        self.root = Path(root)
        (self.root / "manifests").mkdir(parents=True, exist_ok=True)
        (self.root / "rounds").mkdir(parents=True, exist_ok=True)
        # round -> table names, filled lazily; round manifests are
        # immutable once committed, so this never goes stale except via
        # truncate_after (which evicts). Without it every read_union call
        # re-parsed EVERY committed manifest — O(rounds^2) driver json
        # work over a crawl's lifetime.
        self._tables_cache: dict[int, frozenset[str]] = {}

    # -- manifest/ref plumbing ------------------------------------------
    @staticmethod
    def _write_json_atomic(path: Path, obj: dict, indent: int | None = 2) -> None:
        """The store's single commit primitive: tmp file + os.replace.
        Every manifest kind (round, compaction, config, bloom meta)
        must go through here so the atomicity discipline can't drift."""
        tmp = path.with_suffix(path.suffix + ".tmp")
        tmp.write_text(json.dumps(obj, indent=indent))
        os.replace(tmp, path)

    @staticmethod
    def _anchored_tail(p: str | os.PathLike) -> Path | None:
        """The store-root-relative tail of a data-dir reference ('rounds/
        ...' / 'compacted/...'), or None if no anchor is present."""
        parts = Path(p).parts
        for anchor in ("compacted", "rounds"):
            if anchor in parts:
                i = len(parts) - 1 - parts[::-1].index(anchor)
                return Path(*parts[i:])
        return None

    def _store_ref(self, p: str | os.PathLike) -> str:
        """How a data dir is SPELLED inside a manifest: the root-relative
        tail, so the manifest survives a moved store root or a writer CWD
        different from the reader's."""
        tail = self._anchored_tail(p)
        return str(tail) if tail is not None else str(p)

    def _rebase(self, s: str) -> str:
        """A manifest path reference rebased onto the CURRENT root.
        Handles every historical spelling: root-relative tails (current
        writers), absolute paths, and writer-CWD-relative paths (legacy) —
        the read-side twin of orphan_dirs' canonicalization."""
        tail = self._anchored_tail(s)
        return str(self.root / tail) if tail is not None else s

    # -- paths ---------------------------------------------------------
    def _round_dir(self, rnd: int) -> Path:
        return self.root / "rounds" / f"round={rnd:05d}"

    def table_path(self, name: str, rnd: int) -> Path:
        return self._round_dir(rnd) / name

    def manifest_path(self, rnd: int) -> Path:
        return self.root / "manifests" / f"round-{rnd:05d}.json"

    # -- commit --------------------------------------------------------
    def write_table(self, name: str, rnd: int, df: DataFrame) -> int:
        """Write one table of round `rnd`; returns row count. Not visible
        until commit()."""
        path = str(self.table_path(name, rnd))
        # Row count is observed DURING the write action (CollectMetrics node)
        # instead of re-reading the written files — one job per table, not two.
        obs = Observation(f"write-{name}-{rnd}")
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
        return int(obs.get["n"])

    def commit(self, rnd: int, tables: dict[str, int], counters: dict, lineage: list[dict] | None = None) -> dict:
        manifest = {
            "round": rnd,
            "committed_at": time.time(),
            "tables": tables,
            "counters": counters,
            "lineage": lineage or [],
        }
        self._write_json_atomic(self.manifest_path(rnd), manifest)  # atomic commit point
        self._tables_cache[rnd] = frozenset(tables)
        return manifest

    # -- crawl config (persisted once at new-crawl; resume must reuse it:
    #    a crawl folder is self-describing, like the reference's crawl dirs) --
    def save_config(self, cfg: dict) -> None:
        self._write_json_atomic(self.root / "config.json", cfg)

    def load_config(self) -> dict | None:
        p = self.root / "config.json"
        return json.loads(p.read_text()) if p.exists() else None

    # -- bloom persistence (resume without a full seen-set rescan) -------
    def save_bloom(
        self, rnd: int, bits: bytes, m: int, k: int, version: int, n_items: int
    ) -> None:
        """Persist the merged URL-seen bloom bitmap as of round `rnd`
        (tmp + atomic rename; one `latest` slot, not per-round history).
        n_items rides the meta so a resume restores the EXACT insertion
        count — approximating it from the manifest's seen_total overcounted
        by one round's delta, inflating estimated_fpp and tripping the
        saturation gate into spurious full rebuilds (review r5 final #3).
        In the sharded 10^10 regime the executor-resident shards would be
        persisted per shard; the read contract is the same."""
        d = self.root / "bloom"
        d.mkdir(parents=True, exist_ok=True)
        # NEVER overwrite the bits file latest.json currently points at
        # (one fresh generation file per save): replacing the live
        # slot in place and THEN swapping the meta leaves a crash window
        # where new bits (possibly a resized m) pair with stale meta — the
        # round tag still matches after a --from-round rewind, so
        # load_bloom would hand back a bitmap probed modulo the WRONG m,
        # turning seen URLs into 'provably unseen' (review r5 store #2).
        # Fresh generation file, atomic manifest swap, then prune.
        gen = 0
        while (bits_p := d / f"r{rnd}-g{gen}.bits").exists():
            gen += 1
        bits_p.write_bytes(bits)
        self._write_json_atomic(
            d / "latest.json",
            {"round": rnd, "path": bits_p.name, "m": m, "k": k,
             "version": version, "n_items": n_items},
            indent=None,
        )
        for p in d.glob("*.bits"):
            if p.name != bits_p.name:
                p.unlink(missing_ok=True)

    def load_bloom(self, rnd: int) -> tuple[bytes, dict] | None:
        """The persisted bitmap, iff it is exactly the state AS OF round
        `rnd` (a stale or future snapshot — e.g. after --from-round rewind
        — returns None and the caller rebuilds; the bloom is an admission
        gate only, so correctness never depends on it)."""
        meta_p = self.root / "bloom" / "latest.json"
        if not meta_p.exists():
            return None
        meta = json.loads(meta_p.read_text())
        if meta.get("round") != rnd:
            return None
        bits_p = self.root / "bloom" / meta.get("path", "latest.bits")
        if not bits_p.exists():
            return None
        bits = bits_p.read_bytes()
        if len(bits) * 8 != meta.get("m", len(bits) * 8):
            return None  # torn/mismatched bitmap: rebuild, never mis-probe
        return bits, meta

    # -- deliberate rewind (App.scala:39-43 stage/round override analog) --
    def truncate_after(self, rnd: int) -> list[int]:
        """Un-commit every round AFTER `rnd` (and any compaction built on
        them) by deleting their manifests; the orphaned data dirs are
        overwritten by the deterministic re-run. Returns the dropped
        rounds. This is the `--from-round k` deliberate-rewind: strictly
        safer than the reference's directory heuristics because visibility
        is manifest-only."""
        dropped = [r for r in self.committed_rounds() if r > rnd]
        for r in dropped:
            self.manifest_path(r).unlink()
            self._tables_cache.pop(r, None)
        for p in (self.root / "manifests").glob("compact-*.json"):
            m = re.match(r"compact-.+-(\d+)\.json$", p.name)
            if m and int(m.group(1)) > rnd:
                p.unlink()
        return dropped

    # -- compaction ----------------------------------------------------
    def compacted_path(self, name: str, upto: int, key_col: str = "url", n_buckets: int = 32) -> Path:
        """Parameter-qualified snapshot dir: a re-compaction at the same
        `upto` with different clustering (e.g. `cli compact --buckets 16`
        after the round loop auto-compacted with 32) writes to a DIFFERENT
        directory than the one read_union is lazily reading — Spark aborts
        an overwrite of a path that is also a read source (ADVICE r2).
        Superseded dirs become unreferenced orphans (visibility is
        manifest-only) and are never deleted eagerly: --from-round rewind
        may make an older compaction manifest current again."""
        return self.root / "compacted" / name / f"upto={upto:05d}-b{n_buckets}-{key_col}"

    def _compact_manifest_path(self, name: str, upto: int) -> Path:
        return self.root / "manifests" / f"compact-{name}-{upto:05d}.json"

    def latest_compaction(self, name: str, upto: int | None = None) -> dict | None:
        """Newest committed compaction of `name` covering rounds <= upto."""
        best = None
        for p in (self.root / "manifests").glob(f"compact-{name}-*.json"):
            m = re.match(rf"compact-{re.escape(name)}-(\d+)\.json$", p.name)
            if not m:
                continue
            k = int(m.group(1))
            if (upto is None or k <= upto) and (best is None or k > best):
                best = k
        if best is None:
            return None
        comp = json.loads(self._compact_manifest_path(name, best).read_text())
        # on disk the refs are root-relative (portable across a moved root
        # / a different reader CWD); callers get them rebased onto THIS
        # store's root so they are directly readable
        if comp.get("paths"):
            comp["paths"] = [self._rebase(p) for p in comp["paths"]]
        if comp.get("path"):
            comp["path"] = self._rebase(comp["path"])
        return comp

    def compact(self, name: str, upto: int, key_col: str = "url", n_buckets: int = 32) -> dict:
        """Merge base + tail deltas of rounds <= upto into one hash-clustered
        snapshot. Returns the compaction manifest. No-op (returns the current
        manifest) when nothing new exists to compact.

        This is the FULL rewrite (every row rewritten each time) — right for
        url_seen, whose value is the clustered-by-key layout feeding the
        exact-seen anti-join. For payload-heavy tables use compact_tiered."""
        prev = self.latest_compaction(name, upto)
        if (
            prev is not None
            and prev["upto"] == upto
            and prev.get("n_buckets") == n_buckets
            and prev.get("key_col", key_col) == key_col
            # a TIERED manifest (compact_tiered, carries `paths`) is NOT
            # this full hash-clustered rewrite even at identical
            # upto/buckets/key — treating it as committed would leave the
            # caller reading the multi-tier layout while believing the
            # single clustered snapshot exists (review r5 store #7)
            and not prev.get("paths")
        ):
            return prev  # identical compaction already committed
        df = self.read_union(name, upto)
        if df is None:
            return {"table": name, "upto": upto, "rows": 0, "n_buckets": n_buckets, "empty": True}
        out = df.repartition(n_buckets, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)))
        obs = Observation(f"compact-{name}-{upto}")
        path = self.compacted_path(name, upto, key_col, n_buckets)
        out.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(str(path))
        manifest = {
            "table": name,
            "upto": upto,
            "rows": int(obs.get["n"]),
            "n_buckets": n_buckets,
            "key_col": key_col,
            "path": str(path),
            "base": prev["upto"] if prev else None,
            "committed_at": time.time(),
        }
        # on disk the ref is root-relative (portable across a moved root /
        # a different reader CWD); the caller gets the readable spelling
        self._write_json_atomic(
            self._compact_manifest_path(name, upto),
            {**manifest, "path": self._store_ref(path)},
        )
        return manifest

    def tier_path(self, name: str, lo: int, upto: int, n_buckets: int) -> Path:
        return self.root / "compacted" / name / f"tier-{lo:05d}-{upto:05d}-b{n_buckets}"

    @staticmethod
    def _tier_span(path: str) -> tuple[int, int]:
        """Round span covered by a tier dir, parsed from its name (legacy
        manifests carry no explicit span list). Full-rewrite bases
        (upto=<k>...) span 0..k."""
        base = os.path.basename(path)
        m = re.match(r"tier-(\d+)-(\d+)-b\d+$", base)
        if m:
            return int(m.group(1)), int(m.group(2))
        m = re.match(r"upto=(\d+)", base)
        if m:
            return 0, int(m.group(1))
        return 0, -1

    def compact_tiered(self, name: str, upto: int, key_col: str = "doc_id", n_buckets: int = 32) -> dict:
        """Span-aware compaction for payload-heavy delta tables (documents,
        eav): merge ONLY the closed rounds since the previous compaction into
        one new immutable TIER, leaving earlier tiers untouched, then bound
        the tier count with the logarithmic method (Bentley–Saxe; the LSM /
        Lucene size-tiered merge): while the newest tier has at least as
        many rows as the one before it, the two are merged into a single
        tier covering both spans. Tier sizes therefore decay geometrically,
        the tier count is O(log total_rows) — FULLY bounded, not rounds/K —
        and each heavy row (a page's span payload) is rewritten O(log n)
        times over the table's lifetime instead of every compaction
        (Iceberg rewrite_data_files with a min-input-files filter expresses
        the same policy). read_union reads tiers + tail deltas. The row set
        is identical, so resume determinism is unaffected, and superseded
        tier dirs are kept (visibility is manifest-only) so --from-round
        rewind to an older compaction manifest still finds its tier list."""
        prev = self.latest_compaction(name, upto)
        lo = (prev["upto"] if prev else -1) + 1
        delta_paths = [
            str(self.table_path(name, r))
            for r in self.committed_rounds()
            if lo <= r <= upto and r in self._rounds_with(name)
        ]
        if not delta_paths:
            return prev or {"table": name, "upto": upto, "rows": 0, "empty": True}
        # _compaction_tier_paths handles every manifest generation: tier
        # lists, single qualified dirs, and the legacy no-'path' layout
        # (whose base dir must survive into the new tier list — dropping
        # it would silently lose rounds <= base from every later read)
        tiers = list(self._compaction_tier_paths(prev, name)) if prev else []
        # Per-tier row counts; legacy manifests lack them -> None sentinels
        # that never satisfy the merge condition (treated as unbounded).
        prev_rows = (list(prev.get("tier_rows", [])) if prev else [])
        prev_rows += [None] * (len(tiers) - len(prev_rows))
        # Tiers never dedup, so a merged tier's size is exactly the sum of
        # its inputs — once the delta's row count is known (a zero-column
        # parquet count: footer metadata only), the whole binary-counter
        # carry is arithmetic. Collapse the full trailing run in ONE
        # read+write instead of a pairwise cascade that would rewrite the
        # newest span payloads O(run) times and leave instantly-orphaned
        # intermediate tier dirs.
        new_rows = self.spark.read.parquet(*delta_paths).count()
        sim = prev_rows + [new_rows]
        while (
            len(sim) >= 2
            and sim[-1] is not None
            and sim[-2] is not None
            and sim[-1] >= sim[-2]
        ):
            sim[-2:] = [sim[-2] + sim[-1]]
        n_absorbed = len(prev_rows) + 1 - len(sim)  # trailing prev tiers merged in
        span_lo = self._tier_span(tiers[-n_absorbed])[0] if n_absorbed else lo
        in_paths = tiers[len(tiers) - n_absorbed:] + delta_paths
        path = self.tier_path(name, span_lo, upto, n_buckets)
        out = self.spark.read.parquet(*in_paths).repartition(
            n_buckets, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
        )
        obs = Observation(f"tier-{name}-{span_lo}-{upto}")
        out.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(str(path))
        tiers = tiers[: len(tiers) - n_absorbed] + [str(path)]
        tier_rows = prev_rows[: len(prev_rows) - n_absorbed] + [int(obs.get["n"])]
        manifest = {
            "table": name,
            "upto": upto,
            "rows": (prev.get("rows", 0) if prev else 0) + new_rows,
            "n_buckets": n_buckets,
            "key_col": key_col,
            "mode": "tiered",
            "paths": tiers,
            "tier_rows": tier_rows,
            "base": prev["upto"] if prev else None,
            "committed_at": time.time(),
        }
        # disk spelling root-relative, returned spelling readable (above)
        self._write_json_atomic(
            self._compact_manifest_path(name, upto),
            {**manifest, "paths": [self._store_ref(t) for t in tiers]},
        )
        return manifest

    # -- read ----------------------------------------------------------
    def committed_rounds(self) -> list[int]:
        out = []
        for p in (self.root / "manifests").glob("round-*.json"):
            m = re.match(r"round-(\d+)\.json$", p.name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def latest_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def manifest(self, rnd: int) -> dict:
        return json.loads(self.manifest_path(rnd).read_text())

    def read_state(self, name: str, rnd: int) -> DataFrame:
        """Full-state table at round `rnd` (e.g. frontier)."""
        return self.spark.read.parquet(str(self.table_path(name, rnd)))

    def read_union(self, name: str, upto: int) -> DataFrame | None:
        """Delta table union over rounds 0..upto (e.g. url_seen, documents):
        the newest compacted base (if any) + only the tail delta dirs after
        it. Missing rounds (table not written that round) are skipped."""
        comp = self.latest_compaction(name, upto)
        base_upto = comp["upto"] if comp else -1
        paths = [
            str(self.table_path(name, r))
            for r in self.committed_rounds()
            if base_upto < r <= upto and r in self._rounds_with(name)
        ]
        if comp is not None:
            paths = self._compaction_tier_paths(comp, name) + paths
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def read_union_versioned(self, name: str, upto: int, round_col: str = "_round") -> DataFrame | None:
        """read_union, but every row carries the ROUND its delta dir was
        committed at (the typed extraction tables store no round column;
        the store's append-only layout is the version history). Only valid
        for never-compacted tables — a compaction snapshot mixes rounds
        into one dir, so per-dir provenance would lie; the round loop and
        the CLI only ever compact url_seen/documents, which carry a real
        `round` column and never need this."""
        if self.latest_compaction(name, upto) is not None:
            raise ValueError(
                f"{name} has a compaction snapshot <= {upto}: per-dir round "
                "provenance is gone; read the table's own round column"
            )
        from pyspark.sql import functions as _F

        parts = [
            self.spark.read.parquet(str(self.table_path(name, r)))
            .withColumn(round_col, _F.lit(r).cast("int"))
            for r in self.committed_rounds()
            if r <= upto and r in self._rounds_with(name)
        ]
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _compaction_tier_paths(self, comp: dict, name: str) -> list[str]:
        """Data dirs a compaction manifest references: the tier list
        (tiered mode), the qualified snapshot dir, or — for manifests from
        the pre-qualified-dir layout, which carried no 'path' — the
        reconstructed LEGACY unqualified dir name."""
        if comp.get("paths"):  # tiered: every immutable tier
            return [self._rebase(p) for p in comp["paths"]]
        if comp.get("path"):
            return [self._rebase(comp["path"])]
        return [str(self.root / "compacted" / name / f"upto={comp['upto']:05d}")]

    # -- maintenance (Iceberg expire_snapshots / remove_orphan_files
    #    analog; offline — never run concurrently with a live crawl) ----
    def expire_compactions(
        self, name: str, keep_last: int = 1, dry_run: bool = False
    ) -> list[int]:
        """Delete (or with dry_run just list) all but the newest
        `keep_last` compaction manifests of `name`. This only narrows
        which snapshots --from-round rewind can fall back to — round
        deltas are untouched, so read_union at ANY retained round still
        resolves (pure delta union past the dropped bases). The
        now-unreferenced dirs become orphans for remove_orphans()."""
        uptos = sorted(
            int(m.group(1))
            for p in (self.root / "manifests").glob(f"compact-{name}-*.json")
            if (m := re.match(rf"compact-{re.escape(name)}-(\d+)\.json$", p.name))
        )
        drop = uptos[: -keep_last] if keep_last > 0 else uptos
        if not dry_run:
            for k in drop:
                self._compact_manifest_path(name, k).unlink()
        return drop

    def orphan_dirs(self, pending_expiry: set[tuple[str, int]] | None = None) -> list[Path]:
        """Data dirs no committed manifest references: round dirs from
        crashed (never-committed) or truncated rounds, and compaction
        snapshot dirs superseded by re-clustering, tier merges, or
        expire_compactions. Safe to delete because visibility is
        manifest-only.

        Manifests store path STRINGS spelled with whatever root the writer
        used ('/data/crawl1/...' vs 'crawl1/...'); comparing raw strings
        against the current root's listing would make every live dir look
        unreferenced under a different spelling and gc would delete it. So
        both sides are canonicalized: resolve() to a common absolute form,
        plus a rebase of the root-relative tail ('compacted/...' /
        'rounds/...') onto the CURRENT root, which also survives a moved
        root directory."""
        root = self.root.resolve()

        def _canon(s: str | Path) -> set[str]:
            out = {str(Path(s).resolve())}
            tail = self._anchored_tail(s)
            if tail is not None:
                out.add(str(root / tail))
            return out

        referenced: set[str] = set()
        for r in self.committed_rounds():
            referenced |= _canon(self._round_dir(r))
        for p in (self.root / "manifests").glob("compact-*.json"):
            m = re.match(r"compact-(.+)-(\d+)\.json$", p.name)
            if not m:
                continue
            if pending_expiry and (m.group(1), int(m.group(2))) in pending_expiry:
                # a dry-run expire_compactions left this manifest on disk but
                # the real gc will unlink it first — treating it as live
                # would make the preview omit every dir only it references
                continue
            comp = json.loads(p.read_text())
            for ref in self._compaction_tier_paths(comp, m.group(1)):
                referenced |= _canon(ref)
        orphans = []
        for d in sorted((self.root / "rounds").glob("round=*")):
            if d.is_dir() and referenced.isdisjoint(_canon(d)):
                orphans.append(d)
        comp_root = self.root / "compacted"
        if comp_root.is_dir():
            for table_dir in sorted(comp_root.iterdir()):
                if not table_dir.is_dir():
                    continue
                for d in sorted(table_dir.iterdir()):
                    if d.is_dir() and referenced.isdisjoint(_canon(d)):
                        orphans.append(d)
        return orphans

    def remove_orphans(
        self,
        dry_run: bool = False,
        pending_expiry: set[tuple[str, int]] | None = None,
    ) -> list[str]:
        """Delete (or with dry_run just list) every orphan dir.
        `pending_expiry` = (table, upto) manifests a dry-run expiry WOULD
        unlink, so the preview matches the real deletion set."""
        import shutil

        orphans = [str(d) for d in self.orphan_dirs(pending_expiry)]
        if not dry_run:
            for d in orphans:
                shutil.rmtree(d, ignore_errors=True)
        return orphans

    def _rounds_with(self, name: str) -> set[int]:
        """Committed rounds whose manifest lists table `name`. Each round
        manifest is parsed at most once per store instance (immutable once
        committed; evicted by truncate_after) — read_union calls this
        every round, so an uncached version is O(rounds^2) over a crawl
        (round_loop.py's one-manifest-read-per-round invariant)."""
        out = set()
        for r in self.committed_rounds():
            tables = self._tables_cache.get(r)
            if tables is None:
                tables = frozenset(self.manifest(r)["tables"])
                self._tables_cache[r] = tables
            if name in tables:
                out.add(r)
        return out
