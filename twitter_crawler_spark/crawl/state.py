"""Iceberg-style snapshot store on parquet, with merge-on-read state.

The sandbox has no Iceberg runtime jar (no network), so this module provides
the same *semantics* on plain parquet + an atomically-replaced JSON manifest:

* every crawl round writes its outputs under ``<table>/r=<k>/`` directories;
* a round becomes visible ONLY when the manifest is atomically replaced
  (``os.replace``) with ``committed_round = k`` — the analog of an Iceberg
  snapshot commit (and of the reference's single-writer actor serialization,
  storages/GraphStorage.scala:236-253, where the commit is the serialization
  point);
* readers always filter partition ``r <= committed_round`` so half-written
  rounds are invisible — resume after a crash re-runs the uncommitted round
  from the last committed state with zero re-fetch of committed rounds;
* the **frontier is merge-on-read** (the Iceberg MERGE / delete-file
  analog): one banded table (``frontier/r=<k>/band=<B>`` where band =
  next_fetch_ts div band_ticks) holding a base ``r=<g>`` and the rows each
  later round inserted, ``r=<k>`` for k > g, plus the per-round sidecar
  log ``frontier_gains`` (pending OPIC cash). The equality deletes are the
  popped (url, attempt) keys of the ``crawl_log`` rounds after the base:
  crawl_log is the one record of a round's pops, so no separate delete log
  is written. A round writes only its O(batch) delta; the live view is the
  ``frontier`` rounds from g on ∖ crawl_log keys, with gains folded at read
  time. Periodic compaction (``CrawlConfig.compact_every``) rewrites the
  base and truncates the logs, exactly Iceberg's rewrite_data_files
  maintenance action;
* append-only logs that the round loop reads (``url_seen``, ``docs``,
  ``edges``) compact into **leveled generations** (``<table>/gen=<g>`` dirs
  listed in the manifest's ``log_gens``): a minor compaction folds only the
  rounds since the newest generation into a new one (O(batch·K) bytes — the
  ever-growing history is NOT rewritten), and once ``max_log_gens``
  generations accumulate a major compaction merges them into one (LSM
  size-tiering). Listings stay O(rounds-since-compaction + #generations) and
  the O(total-history) rewrite is amortized over
  ``max_log_gens × compact_every`` rounds;
* a merge round is **single-phase**: it writes each compacted log's new
  generation straight from the prior slice ∪ the round's own delta, and the
  new frontier base, concurrently with its other writes — it
  never writes an ``r=<k>`` dir for a compacted log only to read it back.
  A generation whose write produced no data files is removed instead of
  being listed in ``log_gens``;
* every table has a **declared schema** (``schemas.STORE_TABLES``: data
  columns plus the layout's partition columns). Writes compare the
  DataFrame's analyzed schema with it on the driver and raise on drift;
  reads pass it to the parquet reader, so building a state view launches
  no footer-inference job, and a dir whose layout lacks a declared
  partition column raises instead of reading that column back as nulls;
* the manifest IS the committed ``Snapshot``, serialized: one flat JSON
  object with one key per field and nothing else (no round history —
  ``round_metrics`` is the per-round record). It is parsed once per crawl
  run; each round builds the next snapshot, which its commit writes and
  hands on;
* the bloom sidecar for each bucket is resolved through the snapshot's
  ``bloom`` map (bucket → newest committed round that wrote that bucket's
  shard, with the shard's keys and bits) — O(1) per bucket, no
  newest-first filesystem probing;
* **host state is derived, not stored**: budgets and delays are the
  static politeness input, and a host's last fetch round is ``max(round)``
  over the ``crawl_log`` rounds that can still gate the round (the last
  D-1, D the longest crawl delay), read at pop time. A round writes
  nothing for its hosts;
* a state dir written when the frontier delete log (``frontier_del``) and
  the hosts table (``hosts``, ``hosts_new``, ``hosts_touch``) still existed
  resumes unchanged: ``crawl_log`` holds every pop since round 0, and those
  dirs (and the manifest's ``hosts_base_round`` / ``frontier_del_rows``
  keys) are never read again — dead bytes. A state dir from when a
  round's frontier inserts had a table of their own (``frontier_ins``)
  has them moved into ``frontier`` by ``clean_uncommitted``. A manifest
  in the older nested format (fields under ``state``, a round
  ``history``, the bloom record split into ``bloom_map`` and
  ``bloom_load``) is read by ``Snapshot.parse``, and the next commit
  writes the flat one.

On a real cluster this class is swapped for ``spark.table("cat.db.t")`` +
Iceberg ``MERGE INTO`` / snapshot IDs; the engine only touches this
interface. All paths must be on a shared filesystem for a multi-node master
(enforced by ``engine.require_shared_state``).
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from twitter_crawler_spark import schemas
from twitter_crawler_spark.session import local_df

# Every table a state dir can hold. The RETIRED ones are written by no
# round any more (crawl_log is the one record of a round's pops, host
# state is derived from it, and a round's frontier inserts go to
# ``frontier``), but a state dir from before those changes still holds
# them, so recovery clears their uncommitted rounds like any other table's;
# perfbench/metrics.py also names a per-table write time after every table
# listed here (0 for a retired one).
RETIRED_TABLES = ("hosts", "frontier_del", "hosts_touch", "hosts_new", "frontier_ins")
STATE_TABLES = ("frontier", "hosts")
LOG_TABLES = (
    "url_seen", "edges", "docs", "crawl_log", "round_metrics", "evictions",
    "frontier_ins", "frontier_del", "frontier_gains",
    "hosts_touch", "hosts_new",
)
# loop-read logs that compaction merges into a generation dir
COMPACTED_LOGS = ("url_seen", "docs", "edges")


def _has_data_files(path: str, partition_cols: tuple[str, ...] = ()) -> bool:
    """True if any non-metadata file (not ``_SUCCESS``/``.crc``) exists under
    ``path`` — i.e. the parquet dir actually carries rows. Raises if that
    file does not sit under one ``<col>=<v>`` dir per partition column, in
    order: such a dir (e.g. an ``edges`` round written before it gained its
    ``src_bucket`` layout) would read the missing column back as nulls."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        if any(not f.startswith(("_", ".")) for f in files):
            rel = os.path.relpath(root, path)
            got = [] if rel == "." else [d.split("=", 1)[0] for d in rel.split(os.sep)]
            if got != list(partition_cols):
                raise ValueError(
                    f"{path} is laid out by {got}, but its table declares the "
                    f"partition columns {list(partition_cols)}"
                )
            return True
    return False


def _check_schema(df: DataFrame, table: str) -> None:
    """Raise unless ``df``'s analyzed schema has the table's declared column
    names and types, in order (nullability aside). Analysis runs on the
    driver only — no job."""
    want = schemas.store_schema(table)
    got = [(f.name, f.dataType) for f in df.schema.fields]
    if got != [(f.name, f.dataType) for f in want.fields]:
        raise ValueError(
            f"{table}: the written schema {df.schema.simpleString()} differs "
            f"from the declared {want.simpleString()}"
        )


@dataclasses.dataclass(frozen=True)
class Snapshot:
    """One committed snapshot, and the whole content of ``_manifest.json``:
    the file is this value serialized, one key per field.
    ``SnapshotStore.snapshot`` parses it once per crawl run; each round
    builds the next one (``dataclasses.replace``) and ``SnapshotStore.commit``
    writes it. Bucket keys are ints. Treat the maps as read-only: copy one
    before changing it."""

    committed_round: int
    # the round whose ``frontier/r=<g>`` dir is the frontier's base
    frontier_base_round: int
    frontier_count: int
    # delete keys since the base: the rows the committed rounds after it
    # popped (0 at init and after a merge round)
    del_rows: int
    # table → committed generation rounds, ascending (``read_log``)
    log_gens: dict[str, list[int]]
    # bucket → (round, n, m): the newest committed round holding that
    # bucket's bloom shard, the keys inserted and the bits (n and m are
    # the capacity policy's input)
    bloom: dict[int, tuple[int, int, int]]

    @classmethod
    def parse(cls, m: dict) -> "Snapshot":
        if "state" in m:
            m = _flatten_legacy(m)
        return cls(
            committed_round=m["committed_round"],
            frontier_base_round=m["frontier_base_round"],
            frontier_count=m["frontier_count"],
            del_rows=m["del_rows"],
            log_gens=m["log_gens"],
            bloom={int(b): tuple(v) for b, v in m["bloom"].items()},
        )


def _flatten_legacy(m: dict) -> dict:
    """An older manifest rewritten in the flat format. The older one nests
    the fields under ``state``, keeps a per-round ``history`` (whose
    ``popped`` values after the base sum to ``del_rows``) and splits the
    bloom record into ``bloom_map`` (bucket → round) and ``bloom_load``
    (bucket → [n, m], or [n, m, ov] with a cuckoo-overflow flag ov, cut
    here). The next commit writes the flat format."""
    st = m["state"]
    base = st["frontier_base_round"]
    rounds, load = st.get("bloom_map", {}), st.get("bloom_load", {})
    if rounds.keys() != load.keys():
        raise ValueError("the manifest's bloom_map and bloom_load differ in buckets")
    return {
        "committed_round": m["committed_round"],
        "frontier_base_round": base,
        "frontier_count": st["frontier_count"],
        "del_rows": sum(h["popped"] for h in m["history"] if h["round"] > base),
        "log_gens": st.get("log_gens", {}),
        "bloom": {b: [rd, *load[b][:2]] for b, rd in rounds.items()},
    }


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # --- manifest (the only reader and writer of _manifest.json) ----------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def snapshot(self) -> Snapshot | None:
        """The committed snapshot, parsed from the manifest; None before
        the first commit."""
        try:
            with open(self._manifest_path) as f:
                return Snapshot.parse(json.load(f))
        except FileNotFoundError:
            return None

    def commit(self, snap: Snapshot) -> Snapshot:
        """Atomic snapshot commit: ``snap`` replaces the manifest, and the
        round ``snap.committed_round`` wrote becomes visible with it.
        Nothing written this round is readable before this replace.
        Returns ``snap``, which the next round reads."""
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            # the fields as they are (``asdict`` would deep-copy every
            # bucket's record first, ~7x the dump at 10^5 buckets)
            json.dump(vars(snap), f)
        os.replace(tmp, self._manifest_path)
        return snap

    # --- paths ------------------------------------------------------------

    def round_dir(self, table: str, round_: int) -> str:
        return os.path.join(self.root, table, f"r={round_}")

    def gen_dir(self, table: str, round_: int) -> str:
        return os.path.join(self.root, table, f"gen={round_}")

    @property
    def bloom_root(self) -> str:
        return os.path.join(self.root, "bloom")

    def bloom_dir(self, round_: int) -> str:
        return os.path.join(self.bloom_root, f"r={round_}")

    # --- bloom sidecar resolution (manifest map, O(1) per bucket) ---------

    def bloom_paths(self, snap: Snapshot) -> dict[int, str]:
        """bucket → shard file path, resolved from the snapshot's
        ``bloom`` rounds. One dict lookup per bucket inside executor tasks — no
        O(#rounds) newest-first existence probing, no driver listdir of the
        history."""
        from twitter_crawler_spark.crawl.seen import shard_path

        return {b: shard_path(self.bloom_dir(rd), b) for b, (rd, _n, _m) in snap.bloom.items()}

    def gc_bloom(self, superseded: dict[int, int]) -> int:
        """Delete shard files that a newly COMMITTED round replaced (the old
        shard is a strict subset — bloom adds are monotone). Keeps the
        sidecar tree at O(#buckets) files for the whole crawl. Idempotent and
        crash-safe: only dead files are touched, after the commit."""
        from twitter_crawler_spark.crawl.seen import shard_path

        removed = 0
        for bucket, old_round in superseded.items():
            p = shard_path(self.bloom_dir(old_round), bucket)
            if os.path.exists(p):
                os.remove(p)
                removed += 1
        # drop bloom round dirs emptied by shard GC
        if os.path.isdir(self.bloom_root):
            for d in os.listdir(self.bloom_root):
                full = os.path.join(self.bloom_root, d)
                if d.startswith("r=") and os.path.isdir(full) and not os.listdir(full):
                    os.rmdir(full)
        return removed

    # --- write ------------------------------------------------------------

    def _write(self, df: DataFrame, table: str, path: str) -> None:
        _check_schema(df, table)
        partition_by = schemas.STORE_TABLES[table][1]
        if partition_by:
            # hash-distribute on the partition columns before the write
            # (Iceberg write.distribution-mode=hash analog): without it every
            # write task can emit a file into every partition dir — at the
            # design point (10^3 executors × 512 buckets) that is ~10^5-10^6
            # files per round dir, a metadata-layer killer. One tiny extra
            # shuffle (AQE coalesces it) caps files at ~1 per partition value.
            # A MAJOR merge rewrites the whole log, exactly where stray
            # per-task files multiply most.
            df = df.repartition(*partition_by)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def write_round(self, df: DataFrame, table: str, round_: int) -> str:
        """Write round ``round_``'s rows of ``table`` (invisible until the
        round commits); the layout comes from the table's declaration."""
        path = self.round_dir(table, round_)
        self._write(df, table, path)
        return path

    def write_gen(self, df: DataFrame, table: str, round_: int) -> str | None:
        """Write a compaction generation dir. A minor compaction's generation
        holds only the round tail it folded; a major one holds the full
        merge — which is which is recorded by the manifest's ``log_gens``.
        Returns None, leaving no dir behind, if the write produced no data
        files: an empty generation is never listed."""
        path = self.gen_dir(table, round_)
        self._write(df, table, path)
        if _has_data_files(path, schemas.STORE_TABLES[table][1]):
            return path
        shutil.rmtree(path)
        return None

    # --- read -------------------------------------------------------------

    def _read(
        self, spark: SparkSession, table: str, paths: list[str], base: str,
        with_round: bool,
    ) -> DataFrame:
        """Parquet scan of ``paths`` under the table's declared schema — no
        footer-inference job."""
        return (
            spark.read.schema(schemas.store_schema(table, with_round))
            .option("basePath", base)
            .parquet(*paths)
        )

    def _round_dirs(self, table: str) -> list[tuple[int, str]]:
        troot = os.path.join(self.root, table)
        if not os.path.isdir(troot):
            return []
        out = []
        for d in os.listdir(troot):
            if d.startswith("r="):
                out.append((int(d.split("=", 1)[1]), os.path.join(troot, d)))
        return sorted(out)

    def read_rounds(
        self,
        spark: SparkSession,
        table: str,
        upto_round: int,
        min_round: int | None = None,
        drop_r: bool = True,
    ) -> DataFrame:
        """Union of per-round appends with ``min_round <= r <= upto_round``
        (partition column ``r`` from the layout). The caller bounds
        ``min_round`` (e.g. to the frontier base round) so the scan probes
        and reads O(upto_round - min_round) dirs and never lists the table,
        whose history (crawl_log's) may be the whole crawl. No rows — a
        missing table, an empty range, a tail of empty dirs — read as a
        0-row frame of the declared schema (``local_df``), which the
        optimizer drops from the joins and unions it feeds, so callers
        need no branch for it."""
        parts = schemas.STORE_TABLES[table][1]
        if min_round is None:
            dirs = [p for k, p in self._round_dirs(table) if k <= upto_round]
        else:
            dirs = [
                p for p in (self.round_dir(table, k)
                            for k in range(min_round, upto_round + 1))
                if os.path.isdir(p)
            ]
        # A zero-row PARTITIONED write leaves a round dir holding only
        # _SUCCESS (no part file): on a long crawl a table can go quiet for
        # a whole compaction window (e.g. docs once first-fetches dry up),
        # making every listed dir empty. They hold no rows, so they are
        # skipped outright, and a tail of only such dirs reads as no rows.
        dirs = [p for p in dirs if _has_data_files(p, parts)]
        if dirs:
            df = self._read(spark, table, dirs, os.path.join(self.root, table), True)
        else:
            df = local_df(spark, [], schemas.store_schema(table, True))
        return df.drop("r") if drop_r else df

    def read_log(
        self, spark: SparkSession, table: str, upto_round: int, gens: list[int],
    ) -> DataFrame:
        """Current view of an append-only log: the leveled generation dirs
        ``gens`` (the snapshot's ``log_gens`` of the table: ascending and
        disjoint by construction, gen g covering rounds (prev gen, g]) plus
        the rounds after the newest one. Listing and file count stay
        O(#generations + rounds-since-compaction), bounded by
        ``max_log_gens`` and ``compact_every``. A log with no data files
        (``evictions`` of a crawl that never evicts) reads as its empty
        tail: a 0-row frame of the declared schema, planned JVM-only."""
        parts = []
        for g in gens:
            gdir = self.gen_dir(table, g)
            _has_data_files(gdir, schemas.STORE_TABLES[table][1])
            parts.append(self._read(spark, table, [gdir], gdir, False))
        parts.append(self.read_rounds(
            spark, table, upto_round,
            min_round=(gens[-1] + 1) if gens else None,
        ))
        return functools.reduce(DataFrame.unionByName, parts)

    # --- GC (post-commit, idempotent) -------------------------------------

    def gc_rounds_below(self, table: str, min_round: int) -> list[str]:
        """Delete ``r=<k>`` dirs with k < min_round — rounds folded into a
        committed generation / base. Post-commit only; readers already
        exclude these dirs via the manifest pointers, so a crash mid-GC just
        leaves dead bytes for the next GC pass."""
        removed = []
        for k, p in self._round_dirs(table):
            if k < min_round:
                shutil.rmtree(p)
                removed.append(p)
        return removed

    def gc_gens_below(self, table: str, min_round: int) -> list[str]:
        """Delete superseded generation dirs (gen < the manifest's)."""
        troot = os.path.join(self.root, table)
        removed = []
        if not os.path.isdir(troot):
            return removed
        for d in os.listdir(troot):
            if d.startswith("gen=") and int(d.split("=", 1)[1]) < min_round:
                p = os.path.join(troot, d)
                shutil.rmtree(p)
                removed.append(p)
        return removed

    # --- recovery ---------------------------------------------------------

    def clean_uncommitted(self, committed: int) -> list[str]:
        """Drop round/generation directories newer than ``committed``, the
        committed round (crash debris), and return them.

        This is what makes resume idempotent: an interrupted round leaves
        orphan ``r=k`` (or compaction ``gen=k``) dirs that the manifest never
        referenced.

        A state dir written while an ordinary round kept its frontier
        inserts in a table of their own has committed ``frontier_ins/r=<k>``
        dirs: each moves to ``frontier/r=<k>``, where a round's inserts now
        live beside the bases. The names never collide, since such a round
        wrote no ``frontier`` dir and a merge round (or round -1) no
        ``frontier_ins`` one.
        """
        removed = []
        for table in STATE_TABLES + LOG_TABLES + ("bloom",):
            troot = os.path.join(self.root, table)
            if not os.path.isdir(troot):
                continue
            for d in os.listdir(troot):
                if not (d.startswith("r=") or d.startswith("gen=")):
                    continue
                if int(d.split("=", 1)[1]) > committed:
                    shutil.rmtree(os.path.join(troot, d))
                    removed.append(f"{table}/{d}")
        ins = os.path.join(self.root, "frontier_ins")
        if os.path.isdir(ins):
            for d in os.listdir(ins):
                os.rename(os.path.join(ins, d), os.path.join(self.root, "frontier", d))
            os.rmdir(ins)
        return removed
