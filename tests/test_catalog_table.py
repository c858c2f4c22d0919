"""CatalogTable, the Iceberg sink of CheckpointedRun, with its three
catalog calls stubbed: the test session has no Iceberg runtime, and
``writeTo(...).append()`` on ``spark_catalog`` fails with "Cannot write
into v1 table". The stub keeps Iceberg's rules that matter here:
``create()`` fails on an existing table, ``append()`` on a missing one,
and each write adds one snapshot carrying its summary properties."""

from __future__ import annotations

import os
import re
from collections import Counter

import pytest
from pyspark.sql import DataFrame

from ungoliant_spark.plans.checkpoint import CheckpointedRun
from ungoliant_spark.sources.fixtures import generate
from ungoliant_spark.sources.tables import CatalogTable

CHUNK_PROP = "snapshot-property.ungoliant.chunk"


class FakeIceberg:
    def __init__(self, spark, monkeypatch):
        self.snapshots: dict[str, list[dict]] = {}  # table -> summaries
        self.writes: list[tuple[str, str, str, int]] = []
        self.fail_table: str | None = None  # next write to it raises
        self.snapshots_error: Exception | None = None
        real_sql = spark.sql

        def sql(query, *args, **kwargs):
            m = re.fullmatch(r"SELECT summary FROM (\S+)\.snapshots", query)
            if m is None:
                return real_sql(query, *args, **kwargs)
            if self.snapshots_error is not None:
                raise self.snapshots_error
            rows = [{"summary": s} for s in self.snapshots[m.group(1)]]
            return type("Result", (), {"collect": lambda _: rows})()

        # the session's own classes: classic PySpark subclasses the
        # public DataFrame and overrides writeTo
        monkeypatch.setattr(
            type(spark.catalog),
            "tableExists",
            lambda _, name, db=None: name in self.snapshots,
        )
        monkeypatch.setattr(spark, "sql", sql)
        monkeypatch.setattr(
            type(spark.range(0)), "writeTo", lambda df, name: Writer(self, df, name)
        )


class Writer:
    def __init__(self, fake: FakeIceberg, df: DataFrame, name: str):
        self.fake, self.df, self.name, self.props = fake, df, name, {}

    def option(self, key, value):
        self.props[key] = value
        return self

    def create(self):
        assert self.name not in self.fake.snapshots, "create on an existing table"
        self._commit("create")

    def append(self):
        assert self.name in self.fake.snapshots, "append on a missing table"
        self._commit("append")

    def _commit(self, op):
        if self.fake.fail_table == self.name:
            self.fake.fail_table = None
            raise RuntimeError("simulated crash between appends")
        chunk = self.props[CHUNK_PROP]
        self.fake.writes.append((op, self.name, chunk, self.df.count()))
        self.fake.snapshots.setdefault(self.name, []).append(
            {"operation": op, "ungoliant.chunk": chunk}
        )


@pytest.fixture
def fake(spark, monkeypatch):
    return FakeIceberg(spark, monkeypatch)


def test_first_append_creates_later_ones_append(spark, fake):
    tbl = CatalogTable(spark, "cat.db.t")
    assert tbl.committed_chunks() == set()
    tbl.append(spark.range(3), "chunk-00000")
    tbl.append(spark.range(2), "chunk-00001")
    tbl.append(spark.range(5), "chunk-00000")  # committed: skipped
    assert fake.writes == [
        ("create", "cat.db.t", "chunk-00000", 3),
        ("append", "cat.db.t", "chunk-00001", 2),
    ]
    # a new handle reads the committed set from the snapshot log
    assert CatalogTable(spark, "cat.db.t").committed_chunks() == {
        "chunk-00000",
        "chunk-00001",
    }


def test_torn_chunk_rerun_skips_tables_that_have_it(spark, fake, tmp_path, monkeypatch):
    """A crash between the appends of chunk-00000 (lineage committed,
    metrics and kept not): the re-run commits the chunk to metrics and
    kept only, and every table gets each chunk exactly once."""
    monkeypatch.chdir(tmp_path)  # a catalog identifier's pins land in the CWD
    clips = spark.read.parquet(
        os.path.join(generate(0.001, with_labels=False), "clips.parquet")
    )
    fake.fail_table = "cat.db.run_metrics"
    with pytest.raises(RuntimeError, match="between appends"):
        CheckpointedRun.on_catalog(spark, "cat.db.run").run(clips, 2)
    assert [w[1:3] for w in fake.writes] == [("cat.db.run_lineage", "chunk-00000")]

    run = CheckpointedRun.on_catalog(spark, "cat.db.run")
    assert run.committed_chunks() == set()
    assert run.run(clips, 2) == {"chunk-00000", "chunk-00001"}
    assert run.committed_chunks() == {"chunk-00000", "chunk-00001"}
    tables = [f"cat.db.run_{t}" for t in ("kept", "lineage", "metrics")]
    assert Counter(w[1:3] for w in fake.writes) == {
        (t, c): 1 for t in tables for c in ("chunk-00000", "chunk-00001")
    }
    # the first write to each table created it, the later one appended
    for t in tables:
        assert [w[0] for w in fake.writes if w[1] == t] == ["create", "append"]
    rows = {(t, c): n for _, t, c, n in fake.writes}
    for c in ("chunk-00000", "chunk-00001"):
        assert rows[("cat.db.run_lineage", c)] == rows[("cat.db.run_kept", c)]
    for name in ("chunks.json", "run_config.json", "metadata_schema.json"):
        assert (tmp_path / f"cat.db.run.{name}").exists()


def test_committed_read_error_propagates(spark, fake, tmp_path, monkeypatch):
    """A catalog error while reading the snapshot log fails the run: an
    empty committed set would re-append every chunk (ADVICE r3)."""
    monkeypatch.chdir(tmp_path)
    fake.snapshots["cat.db.run_kept"] = [{"ungoliant.chunk": "chunk-00000"}]
    fake.snapshots_error = RuntimeError("catalog unreachable")
    with pytest.raises(RuntimeError, match="catalog unreachable"):
        CatalogTable(spark, "cat.db.run_kept").committed_chunks()
    with pytest.raises(RuntimeError, match="catalog unreachable"):
        CheckpointedRun.on_catalog(spark, "cat.db.run").run(spark.range(0), 2)
    assert fake.writes == []
    assert not list(tmp_path.iterdir())
