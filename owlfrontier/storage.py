"""TableIO — snapshot-committed table storage behind one seam (SURVEY.md §7.5).

The north_rule mandates Iceberg tables. Two interchangeable backends
implement the seam the engine talks to (``write_gen`` / ``read_gen`` /
``read_crawled`` / ``commit`` / ``read_manifest`` / ``read_metrics`` /
``drop_uncommitted`` — contract-tested in tests/test_storage_contract.py;
``write_gen`` is an idempotent replace that may read the generation it
replaces, as ``add_seeds`` does when it re-enqueues the pending frontier):

* :class:`SnapshotStore` — a snapshot-directory Parquet layout with an
  atomically-replaced JSON manifest emulating Iceberg's commit semantics.
  The sandbox default (the Iceberg Spark runtime jar is not resolvable
  here): every generation commits by (1) writing new Parquet directories,
  (2) atomically replacing ``manifest.json`` (write-tmp + ``os.replace``);
  a crash mid-generation leaves orphan directories the manifest never
  references — the generation simply re-runs (idempotent recomputes,
  SURVEY.md §1.3); resume = read the manifest.

* :class:`IcebergStore` — the cluster path: generation-partitioned Iceberg
  tables written with atomic ``overwritePartitions`` (idempotent re-runs),
  a ``meta`` table whose latest appended row IS the commit point (Iceberg
  appends are atomic snapshot swaps), and metadata ``DELETE`` for dropping
  uncommitted generations. Import-guarded: construction raises a clear
  error when the runtime jar / catalog is absent, and the contract test
  runs against it automatically wherever it IS available.

``resolve_store(spark, spec)`` switches on config: a plain path →
SnapshotStore; ``iceberg:<namespace>`` → IcebergStore.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql.types import StructType


class SnapshotStore:
    """Directory layout::

        root/manifest.json          committed state (atomic replace)
        root/frontier/gen-N/        frontier snapshot after generation N-1
        root/crawled/gen-N/         pages crawled IN generation N (append-only)
        root/metrics.jsonl          per-generation metrics (rewritten on commit)
    """

    def __init__(self, spark, root: str, codec: str = "zstd"):
        self.spark = spark
        self.root = root
        # zstd by default: crawled generations are text-heavy (extracted
        # lines + text_json) and compress ~1.7x smaller than snappy at
        # comparable write CPU — disk bytes are the one resource that does
        # NOT scale with cores on a single box, and on a cluster they are
        # shuffle/storage bandwidth, so fewer bytes is the scale-friendly
        # default. Reads are codec-transparent.
        self.codec = codec
        os.makedirs(root, exist_ok=True)
        # table → the Spark schema of its generations. Reads pass it to
        # the Parquet reader, so no read submits a schema-inference job.
        # A table has one schema, as an Iceberg table does; write_gen
        # records it, and the commit carries it to the next store object
        # over this root (resume, add_seeds on a new engine)
        self._schemas = {
            table: StructType.fromJson(schema)
            for table, schema in
            (self.read_manifest() or {}).get("schemas", {}).items()
        }

    # -- manifest ---------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def read_manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def commit(self, generation: int, metrics: list[dict],
               frontier_empty: bool, crawled_gens: list[int]) -> None:
        manifest = {
            "format_version": 1,
            "generation": generation,
            "frontier_empty": frontier_empty,
            "crawled_generations": crawled_gens,
            "schemas": {t: s.jsonValue() for t, s in self._schemas.items()},
        }
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())  # the atomic commit point
        with open(os.path.join(self.root, "metrics.jsonl"), "w") as f:
            for m in metrics:
                f.write(json.dumps(m) + "\n")

    def read_metrics(self) -> list[dict]:
        try:
            with open(os.path.join(self.root, "metrics.jsonl")) as f:
                return [json.loads(line) for line in f if line.strip()]
        except FileNotFoundError:
            return []

    # -- tables -----------------------------------------------------------

    def _gen_dir(self, table: str, gen: int) -> str:
        return os.path.join(self.root, table, f"gen-{gen}")

    def write_gen(self, df, table: str, gen: int) -> None:
        # write aside, then swap in: a Parquet overwrite cannot read its
        # own target. A crash leaves at most the .new/.old siblings, which
        # drop_uncommitted clears (restoring .old if the crash fell
        # between the two renames)
        target = self._gen_dir(table, gen)
        aside, old = target + ".new", target + ".old"
        (df.write.mode("overwrite").option("compression", self.codec)
         .parquet(aside))
        if os.path.isdir(target):
            shutil.rmtree(old, ignore_errors=True)
            os.rename(target, old)
        os.rename(aside, target)
        shutil.rmtree(old, ignore_errors=True)
        self._schemas[table] = df.schema

    def _read(self, table: str, paths: list[str]):
        schema = self._schemas.get(table)
        if schema is None:
            # committed before the store recorded schemas: infer once
            df = self.spark.read.parquet(*paths)
            self._schemas[table] = df.schema
            return df
        return self.spark.read.schema(schema).parquet(*paths)

    def read_gen(self, table: str, gen: int):
        return self._read(table, [self._gen_dir(table, gen)])

    def read_gens(self, table: str, gens: list[int]):
        """Union of the given committed generations of ``table``
        (manifest-scoped read — orphan dirs from crashed generations are
        invisible). Missing dirs are skipped: side tables like postings
        may cover only the generations since their feature was enabled."""
        if not gens:
            return None
        paths = [
            p for g in gens
            if os.path.isdir(p := self._gen_dir(table, g))
        ]
        if not paths:
            return None
        return self._read(table, paths)

    def read_crawled(self, gens: list[int]):
        return self.read_gens("crawled", gens)

    def missing_gens(self, table: str, gens: list[int]) -> list[int]:
        """Committed generations with NO partition in ``table`` — lets
        callers distinguish a complete side table (safe to aggregate
        incrementally) from a partial one (feature enabled mid-crawl;
        aggregate would silently miss the earlier generations)."""
        return [
            g for g in gens if not os.path.isdir(self._gen_dir(table, g))
        ]

    def drop_uncommitted(self, table: str, committed: list[int]) -> None:
        tdir = os.path.join(self.root, table)
        if not os.path.isdir(tdir):
            return
        keep = {f"gen-{g}" for g in committed}
        for name in keep:
            target = os.path.join(tdir, name)
            if not os.path.isdir(target) and os.path.isdir(target + ".old"):
                os.rename(target + ".old", target)
        for name in os.listdir(tdir):
            if name.startswith("gen-") and name not in keep:
                shutil.rmtree(os.path.join(tdir, name), ignore_errors=True)

    _COMPACT_BASE = 1_000_000  # above any real generation number

    def compact(self, n_files: int = 8) -> dict:
        """Small-files compaction — the ``rewrite_data_files`` analog for
        the snapshot store (a 10^10-URL crawl accumulates one parquet dir
        per generation; reads degrade with file count long before data
        size matters). Merges every committed crawled generation into ONE
        repartitioned dir and swaps it in atomically through the manifest.

        Crash-safe at each step: before the manifest replace, the merged
        dir is an invisible orphan (manifest-scoped reads); after it, the
        OLD dirs are orphans — either kind is dropped by resume's
        ``drop_uncommitted``. Row content (including each row's original
        ``gen_fetched``) is unchanged; only file layout changes. The
        generation counter keeps running from where it was — the engine
        treats ``crawled_generations`` as opaque directory ids."""
        manifest = self.read_manifest()
        gens = list(manifest["crawled_generations"]) if manifest else []
        if len(gens) <= 1:
            return {"compacted": False, "merged": 0}
        target = self._COMPACT_BASE + max(gens) + 1
        combined = self.read_crawled(gens).repartition(n_files)
        self.write_gen(combined, "crawled", target)
        rows = self.read_gen("crawled", target).count()  # verify readable
        # side tables keyed by the same generation ids (the incremental
        # word index) compact in the same swap — but ONLY when complete:
        # merging a PARTIAL postings table (feature enabled mid-crawl)
        # into the single target generation would erase the gap the
        # word_index completeness guard detects; leaving the old dirs
        # orphaned instead means word_index full-recomputes (correct)
        # until resume backfills
        if not self.missing_gens("postings", gens):
            posts = self.read_gens("postings", gens)
            if posts is not None:
                self.write_gen(posts.repartition(n_files), "postings", target)
        self.commit(
            manifest["generation"],
            self.read_metrics(),
            manifest["frontier_empty"],
            [target],
        )  # the atomic swap point
        for g in gens:
            shutil.rmtree(self._gen_dir("crawled", g), ignore_errors=True)
            shutil.rmtree(self._gen_dir("postings", g), ignore_errors=True)
        return {"compacted": True, "merged": len(gens),
                "target": target, "rows": rows}


def iceberg_available(spark) -> bool:
    """True iff the Iceberg Spark runtime is on the session's classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 — jvm ClassNotFound surfaces as Py4J err
        return False


class IcebergStore:
    """The cluster TableIO backend (north_rule: Iceberg tables).

    Layout (all under one namespace, e.g. ``spark_catalog.owl``)::

        {ns}.frontier   PARTITIONED BY (generation)  — snapshot per gen
        {ns}.crawled    PARTITIONED BY (generation)  — append-only per gen
        {ns}.meta       one row appended per commit; latest row == manifest
        {ns}.metrics    full metrics list, replaced on commit

    Commit protocol: per-generation data lands via atomic
    ``overwritePartitions`` (re-running a crashed generation is an
    idempotent partition replace — the MERGE-INTO-equivalent for this
    insert-only workload, SURVEY.md §1.3/§2.4 note on O6), and the commit
    POINT is the atomic append of one row to ``meta`` — Iceberg appends are
    snapshot swaps, so a crash before the meta append leaves data the
    manifest never references, exactly like SnapshotStore's orphan dirs.
    """

    def __init__(self, spark, namespace: str):
        if not iceberg_available(spark):
            raise RuntimeError(
                "IcebergStore requires the iceberg-spark-runtime jar and a "
                "configured catalog (spark.sql.catalog.*); not found on this "
                "session's classpath. Use SnapshotStore, or submit with "
                "--packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.13"
            )
        self.spark = spark
        self.ns = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {namespace}")

    # -- manifest ---------------------------------------------------------

    def _t(self, table: str) -> str:
        return f"{self.ns}.{table}"

    def _exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._t(table))

    def _ensure_meta_migrated(self) -> None:
        """Legacy meta tables (pre-``commit_seq``) migrate in place:
        ADD COLUMN + backfill from generation order. Legacy stores predate
        compaction (the only producer of same-generation re-commits), so
        generation order IS their commit order — the backfill preserves
        the total order ``read_manifest`` relies on."""
        if not self._exists("meta"):
            return
        if "commit_seq" in self.spark.table(self._t("meta")).columns:
            return
        self.spark.sql(
            f"ALTER TABLE {self._t('meta')} ADD COLUMN commit_seq BIGINT"
        )
        self.spark.sql(
            f"UPDATE {self._t('meta')} SET commit_seq = generation"
        )

    def commit(self, generation: int, metrics: list[dict],
               frontier_empty: bool, crawled_gens: list[int]) -> None:
        # commit_seq totally orders commits: compaction re-commits AT the
        # same generation with a different crawled_gens list, so ordering
        # by generation alone would leave the manifest read ambiguous
        self._ensure_meta_migrated()
        seq = self._next_commit_seq()
        row = [(seq, generation, frontier_empty, json.dumps(crawled_gens))]
        df = self.spark.createDataFrame(
            row,
            "commit_seq bigint, generation int, frontier_empty boolean, "
            "crawled_gens string",
        )
        if self._exists("meta"):
            # position-align with the live table: a migrated legacy table
            # has commit_seq LAST (ALTER ADD COLUMN appends)
            df = df.select(*self.spark.table(self._t("meta")).columns)
            df.writeTo(self._t("meta")).append()  # atomic snapshot == commit
        else:
            df.writeTo(self._t("meta")).using("iceberg").create()
        mdf = self.spark.createDataFrame(
            [(m["generation"], json.dumps(m)) for m in metrics],
            "generation int, metric_json string",
        )
        if self._exists("metrics"):
            mdf.writeTo(self._t("metrics")).overwritePartitions()
        else:
            mdf.writeTo(self._t("metrics")).using("iceberg").create()

    def _next_commit_seq(self) -> int:
        if not self._exists("meta"):
            return 0
        from pyspark.sql import functions as F

        row = self.spark.table(self._t("meta")).agg(
            F.max("commit_seq").alias("m")
        ).first()
        return (row["m"] if row and row["m"] is not None else -1) + 1

    def read_manifest(self) -> dict | None:
        if not self._exists("meta"):
            return None
        self._ensure_meta_migrated()
        from pyspark.sql import functions as F

        # latest commit = max(commit_seq) — a total order even when
        # compaction appends a second commit for the same generation
        rows = (
            self.spark.table(self._t("meta"))
            .orderBy(F.col("commit_seq").desc())
            .limit(1)
            .collect()
        )
        if not rows:
            return None
        r = rows[0]
        return {
            "format_version": 1,
            "generation": r["generation"],
            "frontier_empty": r["frontier_empty"],
            "crawled_generations": json.loads(r["crawled_gens"]),
        }

    def read_metrics(self) -> list[dict]:
        if not self._exists("metrics"):
            return []
        rows = self.spark.table(self._t("metrics")).orderBy("generation")
        return [json.loads(r["metric_json"]) for r in rows.collect()]

    # -- tables -----------------------------------------------------------

    def write_gen(self, df, table: str, gen: int) -> None:
        from pyspark.sql import functions as F

        out = df.withColumn("generation", F.lit(gen))
        if self._exists(table):
            # atomic partition replace: idempotent re-run of a crashed gen
            out.writeTo(self._t(table)).overwritePartitions()
        else:
            (out.writeTo(self._t(table)).using("iceberg")
             .partitionedBy("generation").create())

    def read_gen(self, table: str, gen: int):
        from pyspark.sql import functions as F

        return (
            self.spark.table(self._t(table))
            .where(F.col("generation") == gen)  # partition-pruned scan
            .drop("generation")
        )

    def read_gens(self, table: str, gens: list[int]):
        from pyspark.sql import functions as F

        if not gens or not self._exists(table):
            return None
        return (
            self.spark.table(self._t(table))
            .where(F.col("generation").isin(gens))  # partition-pruned
            .drop("generation")
        )

    def read_crawled(self, gens: list[int]):
        return self.read_gens("crawled", gens)

    def missing_gens(self, table: str, gens: list[int]) -> list[int]:
        """Committed generations with no partition in ``table`` (one
        metadata-pruned DISTINCT over the partition column)."""
        if not gens:
            return []
        if not self._exists(table):
            return list(gens)
        from pyspark.sql import functions as F

        present = {
            r["generation"]
            for r in self.spark.table(self._t(table))
            .where(F.col("generation").isin(gens))
            .select("generation").distinct().collect()
        }
        return [g for g in gens if g not in present]

    def drop_uncommitted(self, table: str, committed: list[int]) -> None:
        if not self._exists(table):
            return
        keep = ", ".join(str(g) for g in committed) or "-1"
        # metadata-only delete: whole partitions drop without a rewrite
        self.spark.sql(
            f"DELETE FROM {self._t(table)} WHERE generation NOT IN ({keep})"
        )

    _COMPACT_BASE = 1_000_000  # above any real generation number

    def compact(self, n_files: int = 8) -> dict:
        """The ``rewrite_data_files`` analog on the generation axis: merge
        every committed crawled generation into ONE partition and swap it
        in through the commit protocol (the meta append is the atomic
        point; Iceberg reads pin a snapshot, so reading `crawled` while
        overwriting its partitions is safe). Row content — including each
        row's original ``gen_fetched`` — is unchanged."""
        manifest = self.read_manifest()
        gens = list(manifest["crawled_generations"]) if manifest else []
        if len(gens) <= 1:
            return {"compacted": False, "merged": 0}
        target = self._COMPACT_BASE + max(gens) + 1
        combined = self.read_crawled(gens).repartition(n_files)
        self.write_gen(combined, "crawled", target)
        rows = self.read_gen("crawled", target).count()  # verify readable
        # postings compact only when COMPLETE (see SnapshotStore.compact)
        posts = (
            self.read_gens("postings", gens)
            if not self.missing_gens("postings", gens) else None
        )
        if posts is not None:
            self.write_gen(posts.repartition(n_files), "postings", target)
        self.commit(
            manifest["generation"],
            self.read_metrics(),
            manifest["frontier_empty"],
            [target],
        )  # the atomic swap point
        drop = ", ".join(str(g) for g in gens)
        self.spark.sql(
            f"DELETE FROM {self._t('crawled')} WHERE generation IN ({drop})"
        )
        if posts is not None:
            self.spark.sql(
                f"DELETE FROM {self._t('postings')} "
                f"WHERE generation IN ({drop})"
            )
        return {"compacted": True, "merged": len(gens),
                "target": target, "rows": rows}


def resolve_store(spark, spec: str):
    """Config-switched TableIO: ``iceberg:<namespace>`` → IcebergStore,
    anything else → SnapshotStore rooted at that path."""
    if spec.startswith("iceberg:"):
        return IcebergStore(spark, spec[len("iceberg:"):])
    return SnapshotStore(spark, spec)
