"""Offline Iceberg-catalog stand-in (round-4 verdict item 8).

The sandbox has no iceberg-spark-runtime jar, so ``IcebergStore`` sat
behind a skip guard where its logic could rot silently. This harness
emulates exactly the V2-catalog session surface the store touches —
``spark.sql`` for its five statement shapes, ``spark.table``,
``spark.catalog.tableExists``, ``DataFrame.writeTo`` with
``create/append/overwritePartitions`` — against parquet-backed tables
with Iceberg's documented semantics (by-name column resolution on v2
writes, dynamic partition overwrite, full replace for unpartitioned
tables). Every DDL/DML statement and write op is RECORDED, so tests can
assert the protocol transcript as well as the data.

What this does and does not test: it runs IcebergStore's OWN logic
(commit_seq protocol, manifest reads, legacy-meta migration, partition
drops, compaction) end to end; it does not test Iceberg itself. The
real-jar contract test still auto-runs wherever the jar is present.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F


class _Jvm:
    """spark._jvm.java.lang.Class.forName(...) — succeed, so
    iceberg_available() reports True for the fake session."""

    def __getattr__(self, name):
        return self

    def __call__(self, *args, **kwargs):
        return self


class FakeWriterV2:
    """DataFrameWriterV2 stand-in routing to the fake catalog."""

    def __init__(self, fake: "FakeIcebergSession", df, name: str):
        self.fake, self.df, self.name = fake, df, name
        self.parts: tuple = ()

    def using(self, fmt):
        assert fmt == "iceberg", fmt
        return self

    def partitionedBy(self, *cols):
        self.parts = tuple(str(c) for c in cols)
        return self

    def create(self):
        self.fake._op(f"WRITETO {self.name} CREATE "
                      f"partitionedBy={list(self.parts)}")
        self.fake._create(self.name, self.df, self.parts)

    def append(self):
        self.fake._op(f"WRITETO {self.name} APPEND")
        self.fake._append(self.name, self.df)

    def overwritePartitions(self):
        self.fake._op(f"WRITETO {self.name} OVERWRITE_PARTITIONS")
        self.fake._overwrite_partitions(self.name, self.df)


class FakeIcebergSession:
    """The minimal session surface IcebergStore uses. Hold real Spark for
    DataFrame mechanics; tables live as parquet dirs under ``root``."""

    def __init__(self, spark, root: str):
        self.real = spark
        self.root = str(root)
        self.tables: dict[str, dict] = {}  # name -> {"path", "parts"}
        self.transcript: list[str] = []
        self._jvm = _Jvm()
        self.catalog = self

    # -- catalog surface ---------------------------------------------------

    def tableExists(self, name: str) -> bool:
        return name in self.tables

    def createDataFrame(self, *args, **kwargs):
        return self.real.createDataFrame(*args, **kwargs)

    def table(self, name: str):
        # catalog-typed, like Iceberg: reading submits no inference job
        meta = self.tables[name]
        return self.real.read.schema(meta["schema"]).parquet(meta["path"])

    # -- statement parser (the five shapes IcebergStore issues) -----------

    def sql(self, stmt: str):
        self._op(stmt)
        s = " ".join(stmt.split())
        if s.startswith("CREATE NAMESPACE"):
            return None
        m = re.fullmatch(
            r"DELETE FROM (\S+) WHERE generation (NOT IN|IN) \(([^)]*)\)", s
        )
        if m:
            name, neg, vals = m.group(1), m.group(2) == "NOT IN", m.group(3)
            gens = {int(v) for v in vals.split(",")} if vals.strip() else set()
            df = self.table(name)
            keep = (
                df.where(F.col("generation").isin(list(gens)))
                if neg else
                df.where(~F.col("generation").isin(list(gens)))
            )
            self._rewrite(name, keep)
            return None
        m = re.fullmatch(r"ALTER TABLE (\S+) ADD COLUMN (\w+) BIGINT", s)
        if m:
            name, col = m.group(1), m.group(2)
            self._rewrite(
                name,
                self.table(name).withColumn(
                    col, F.lit(None).cast("bigint")
                ),
            )
            return None
        m = re.fullmatch(r"UPDATE (\S+) SET (\w+) = (\w+)", s)
        if m:
            name, col, src = m.groups()
            self._rewrite(
                name,
                self.table(name).withColumn(
                    col, F.col(src).cast("bigint")
                ),
            )
            return None
        raise ValueError(f"FakeIcebergSession: unsupported statement {stmt!r}")

    # -- write ops ---------------------------------------------------------

    def _op(self, entry: str) -> None:
        self.transcript.append(entry)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name.replace(".", "__"))

    def _rewrite(self, name: str, df) -> None:
        """Replace a table's content. Materialize FIRST: the incoming plan
        may read the very parquet path being replaced (compaction does)."""
        rows = df.collect()
        schema = df.schema
        out = self.real.createDataFrame(rows, schema)
        out.write.mode("overwrite").parquet(self.tables[name]["path"])
        self.tables[name]["schema"] = schema

    def _create(self, name: str, df, parts: tuple) -> None:
        if name in self.tables:
            raise ValueError(f"table {name} already exists")
        path = self._path(name)
        df.write.mode("overwrite").parquet(path)
        self.tables[name] = {"path": path, "parts": tuple(parts),
                             "schema": df.schema}

    def _align(self, name: str, df):
        """Iceberg v2 writes resolve columns BY NAME against the table
        schema; emulate by selecting the table's column order (missing or
        extra columns are a real Iceberg error too)."""
        cols = self.table(name).columns
        assert sorted(cols) == sorted(df.columns), (cols, df.columns)
        return df.select(*cols)

    def _append(self, name: str, df) -> None:
        aligned = self._align(name, df)
        rows = aligned.collect()
        existing = self.table(name)
        out = self.real.createDataFrame(
            existing.collect() + rows, existing.schema
        )
        out.write.mode("overwrite").parquet(self.tables[name]["path"])

    def _overwrite_partitions(self, name: str, df) -> None:
        aligned = self._align(name, df)
        new_rows = aligned.collect()  # materialize before touching the path
        meta = self.tables[name]
        existing = self.table(name)
        if meta["parts"]:
            incoming = {
                tuple(r[p] for p in meta["parts"]) for r in new_rows
            }
            old = [
                r for r in existing.collect()
                if tuple(r[p] for p in meta["parts"]) not in incoming
            ]
        else:
            # dynamic overwrite of an unpartitioned table replaces it
            old = []
        out = self.real.createDataFrame(old + new_rows, existing.schema)
        out.write.mode("overwrite").parquet(meta["path"])


def patch_writeTo(monkeypatch, fake: FakeIcebergSession) -> None:
    """Route DataFrame.writeTo to the fake catalog for the test's scope.
    Patch the RUNTIME DataFrame class (pyspark.sql.classic on Spark 4
    overrides the base's writeTo, so patching pyspark.sql.DataFrame
    alone would not take)."""
    cls = type(fake.real.range(1))
    monkeypatch.setattr(
        cls, "writeTo",
        lambda self, name: FakeWriterV2(fake, self, name),
    )
