"""Snapshot table layer: Iceberg-shaped semantics on plain parquet.

The design targets Iceberg (`spark.read.format("iceberg")`, SURVEY.md §1.2);
the sandbox has no Iceberg runtime jar, so this thin catalog provides the
same contract — append-only snapshots, atomic multi-table round commits,
time-travel by round, exact resume — over parquet directories plus a
single JSON commit log. On a real cluster, swap `Catalog` for Iceberg
tables and map `commit_round` onto one Iceberg transaction; the engine
code above this layer does not change.

Atomicity: data files are staged first; the commit log is rewritten to a
temp file and `os.replace`d (atomic on POSIX). A crash mid-round leaves
staged-but-uncommitted snapshots that readers never see — that is the
exact-resume guarantee (north_rule T4; the reference's analog is the pid
pickle guard, oa-spider.py:14-27).

Bucketed layout (the 100-TB storage strategy, VERDICT r03 item 1b): pass
``bucketed={"seen": ("url_hash", 32), ...}`` and those tables are kept as
Spark SQL bucketed tables — each snapshot is staged as an external
CLUSTERED BY parquet directory, then registered as one partition
(``snap=<id>``) of a session-catalog table at commit time. Readers get a
``Bucketed: true`` scan whose hash partitioning Catalyst reuses, so every
join/aggregate on the bucket key (the per-round seen anti-join, frontier
dedup) runs with ZERO exchange on that side instead of re-shuffling an
ever-growing table every round. Visibility still flows from the JSON log:
partitions are (re-)registered idempotently from committed entries only,
so a fresh SparkSession replays the exact committed state and staged-but-
uncommitted snapshot dirs stay invisible (they are never ADDed). Iceberg
mapping: ``write.distribution-mode=hash`` + hidden bucket partitioning.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# the storage layout run at scale: seen + frontier co-bucketed on the
# join/dedup key so per-round selection never re-shuffles either table
SCALE_LAYOUT = {"seen": ("url_hash", 32), "frontier": ("url_hash", 32)}


class Catalog:
    def __init__(
        self,
        root: str | Path,
        bucketed: dict[str, tuple[str, int]] | None = None,
    ):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self._log_path = self.root / "commit_log.json"
        self._meta_path = self.root / "bucketed_meta.json"
        self._counter = 0
        self.bucketed = dict(bucketed or {})
        # a previously-bucketed catalog reopened without the arg must keep
        # its layout (the data is already clustered; the DDL is replayable)
        if self._meta_path.exists():
            meta = json.loads(self._meta_path.read_text())
            for t, m in meta.items():
                self.bucketed.setdefault(t, (m["key"], m["n_buckets"]))

    # -- commit log -------------------------------------------------------

    def _read_log(self) -> list[dict]:
        if not self._log_path.exists():
            return []
        return json.loads(self._log_path.read_text())

    def _write_log(self, entries: list[dict]) -> None:
        tmp = self.root / "commit_log.json.tmp"
        tmp.write_text(json.dumps(entries, indent=1))
        os.replace(tmp, self._log_path)

    def committed_rounds(self) -> list[int]:
        return sorted(e["round"] for e in self._read_log())

    def last_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def rounds_with(self, table: str) -> list[int]:
        """Rounds that committed at least one snapshot of `table`."""
        return sorted(
            e["round"] for e in self._read_log() if e["tables"].get(table)
        )

    # -- bucketed-table plumbing -------------------------------------------

    def _table_name(self, table: str) -> str:
        """Session-catalog name, unique per catalog root (two catalogs in
        one session must not collide)."""
        digest = hashlib.md5(str(self.root.resolve()).encode()).hexdigest()[:8]
        return f"oa_cat_{digest}_{re.sub(r'[^A-Za-z0-9_]', '_', table)}"

    def _bucket_meta(self) -> dict:
        if self._meta_path.exists():
            return json.loads(self._meta_path.read_text())
        return {}

    def _ensure_table(self, spark: SparkSession, table: str) -> str | None:
        """CREATE TABLE IF NOT EXISTS from the recorded schema (replayable
        across sessions — the in-memory catalog dies with the session, the
        parquet + JSON meta do not). Returns the session-catalog name, or
        None if the table has never been staged."""
        meta = self._bucket_meta().get(table)
        if meta is None:
            return None
        name = self._table_name(table)
        key, nb = self.bucketed[table]
        live = self.root / f"{table}_bucketed"
        live.mkdir(parents=True, exist_ok=True)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({meta['schema']}) "
            f"USING PARQUET PARTITIONED BY (snap STRING) "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {nb} BUCKETS "
            f"LOCATION '{live}'"
        )
        return name

    def _register_partitions(self, spark: SparkSession, table: str) -> str | None:
        """Idempotently register every COMMITTED snapshot of `table` as a
        partition. Only the JSON log feeds this, so uncommitted staged
        dirs are never visible."""
        name = self._ensure_table(spark, table)
        if name is None:
            return None
        have = {
            r["partition"]
            for r in spark.sql(f"SHOW PARTITIONS {name}").collect()
        }
        for e in self._read_log():
            for path in e["tables"].get(table, []):
                snap = os.path.basename(path)
                if f"snap={snap}" not in have:
                    spark.sql(
                        f"ALTER TABLE {name} ADD IF NOT EXISTS "
                        f"PARTITION (snap='{snap}') LOCATION '{path}'"
                    )
        return name

    def cleanup_session(self, spark: SparkSession) -> None:
        """Drop this catalog's session-catalog table entries (external
        tables — data files stay). Call before deleting a temporary
        catalog root so the session catalog holds no dangling locations."""
        for t in self.bucketed:
            spark.sql(f"DROP TABLE IF EXISTS {self._table_name(t)}")

    # -- staging + commit -------------------------------------------------

    def stage(self, df: DataFrame, table: str, round_id: int) -> str:
        """Write a snapshot directory for `table`; invisible until
        `commit_round` lists it. Returns the staged path.

        Bucketed tables stage as an external CLUSTERED BY table at the
        snapshot path (one write-side shuffle on the bucket key — paid
        once at write so every later round's join/dedup on that key reads
        co-located buckets instead of re-shuffling)."""
        self._counter += 1
        snap = f"snap-r{round_id:05d}-{self._counter:04d}"
        if table in self.bucketed:
            key, nb = self.bucketed[table]
            path = self.root / f"{table}_snaps" / snap
            if path.exists():  # uncommitted leftover from a crashed run
                import shutil

                shutil.rmtree(path)
            spark = df.sparkSession
            tmp = f"{self._table_name(table)}_stage_{self._counter:04d}"
            spark.sql(f"DROP TABLE IF EXISTS {tmp}")
            # bucketBy alone does NOT shuffle — every input task would
            # write one file PER bucket (task_count × nb small files).
            # repartition on the key uses the same murmur3 pmod as the
            # bucket spec, so each task holds exactly one bucket → one
            # file per bucket per snapshot, and SORTED BY stays valid.
            (
                df.repartition(nb, df[key])
                .sortWithinPartitions(key)
                .write.format("parquet")
                .bucketBy(nb, key)
                .sortBy(key)
                .option("path", str(path))
                .saveAsTable(tmp)
            )
            spark.sql(f"DROP TABLE {tmp}")  # external: files stay
            meta = self._bucket_meta()
            if table not in meta:
                schema = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
                )
                meta[table] = {"key": key, "n_buckets": nb, "schema": schema}
                tmpm = self.root / "bucketed_meta.json.tmp"
                tmpm.write_text(json.dumps(meta, indent=1))
                os.replace(tmpm, self._meta_path)
            return str(path)
        path = self.root / table / snap
        df.write.mode("overwrite").parquet(str(path))
        return str(path)

    def commit_round(
        self,
        round_id: int,
        staged: dict[str, list[str]],
        replaces: list[str] | None = None,
        counts: dict[str, int] | None = None,
    ) -> None:
        """Atomically publish all staged snapshots of one crawl round.
        `staged` maps table name -> list of staged snapshot paths.

        Tables listed in `replaces` are REWRITTEN: this entry's snapshots
        supersede all prior snapshots of that table (Iceberg
        rewrite-files semantics — compaction). Superseded files are NOT
        deleted: time-travel reads with as_of_round before this commit
        still see them.

        `counts` optionally records row counts of this commit's snapshots
        (table -> rows). `cumulative_count` folds them into a running
        total the engine reads driver-side — the Iceberg analog is the
        snapshot summary's `total-records` property."""
        entries = self._read_log()
        if any(e["round"] == round_id for e in entries):
            raise ValueError(f"round {round_id} already committed")
        entry: dict = {"round": round_id, "tables": staged}
        if replaces:
            unknown = set(replaces) - set(staged)
            if unknown:
                raise ValueError(f"replaces names unstaged tables: {sorted(unknown)}")
            entry["replaces"] = sorted(replaces)
        if counts:
            entry["counts"] = {t: int(n) for t, n in counts.items()}
        entries.append(entry)
        self._write_log(entries)

    def cumulative_count(self, table: str) -> int | None:
        """Committed row count of `table` from per-commit `counts`
        metadata — pure driver-side log fold, no Spark job. A `replaces`
        entry resets the total to its own count (rewrite semantics match
        `snapshot_paths`). Returns None when any contributing commit
        lacks a count (legacy log) so callers fall back to counting."""
        total: int | None = 0
        for e in self._read_log():
            if table in e.get("replaces", []):
                total = 0
            if e["tables"].get(table):
                c = e.get("counts", {}).get(table)
                if c is None:
                    total = None
                elif total is not None:
                    total += c
        return total

    # -- reads ------------------------------------------------------------

    def snapshot_paths(self, table: str, as_of_round: int | None = None) -> list[str]:
        paths: list[str] = []
        for e in self._read_log():
            if as_of_round is not None and e["round"] > as_of_round:
                continue
            if table in e.get("replaces", []):
                paths.clear()  # rewrite commit: supersedes earlier snapshots
            paths.extend(e["tables"].get(table, []))
        return paths

    def read(
        self,
        spark: SparkSession,
        table: str,
        as_of_round: int | None = None,
        schema: str | None = None,
    ) -> DataFrame | None:
        """Committed rows of `table` (optionally time-traveled). None if
        the table has no committed snapshots yet.

        `schema` (a DDL string) is the table's known schema: a plain
        parquet read then skips the schema-inference job. Bucketed tables
        take theirs from the session catalog and ignore it."""
        paths = self.snapshot_paths(table, as_of_round)
        if not paths:
            return None
        if table in self.bucketed:
            name = self._register_partitions(spark, table)
            t = spark.table(name)
            # always partition-prune to the LIVE snapshot set: time travel
            # selects older snaps; a rewrite (compaction) commit supersedes
            # earlier ones, whose partitions stay registered for time travel
            t = t.where(t["snap"].isin([os.path.basename(p) for p in paths]))
            return t.drop("snap")
        reader = spark.read.schema(schema) if schema else spark.read
        return reader.parquet(*paths)

    def read_latest(
        self, spark: SparkSession, table: str
    ) -> DataFrame | None:
        """Rows of the LAST commit that staged `table` (replace-on-write
        semantics for index-style tables — e.g. the persisted Bloom shards,
        which each round rewrites fully merged)."""
        for e in reversed(self._read_log()):
            paths = e["tables"].get(table, [])
            if paths:
                return spark.read.parquet(*paths)
        return None
