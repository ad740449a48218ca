"""The shared optimistic-commit loop (`SnapshotTable._occ`): every
snapshot-table writer survives a concurrent append landing inside its
read-to-commit window, plain `append()` refuses a stale base instead of
dropping the other writer's rows, a missing table fails with a named
error, and version numbers past 99999 keep resolving."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from empdia_iceberg_spark.tables.manager import (
    CommitConflictError,
    SnapshotTable,
    scratch_root,
)

_SCHEMA = "k int, v string, p string"
_BASE = [(1, "a", "x"), (2, "b", "x"), (3, "c", "y"), (4, "d", "y")]
_LATE = (100, "late", "z")  # the concurrent writer's row


def _fresh(spark, name, partition_by=None):
    t = SnapshotTable(spark, name, scratch_root())
    t.drop()
    t.create(spark.createDataFrame(_BASE, _SCHEMA), partition_by=partition_by)
    return t


def _unreferenced(t: SnapshotTable) -> set[str]:
    """Top-level data/delete dirs on disk that no snapshot references
    (a referenced hive subdir counts for its parent dir)."""
    refs = set()
    for s in t.snapshots():
        refs |= set(s["dirs"])
        refs |= {dd["dir"] for dd in s.get("delete_dirs", [])}
    on_disk = {os.path.join(t.data_dir, d) for d in os.listdir(t.data_dir)}
    return {
        d for d in on_disk
        if not any(r == d or r.startswith(d + os.sep) for r in refs)
    }


def _rows(t: SnapshotTable) -> dict:
    return {r["k"]: r for r in t.read().collect()}


def _sink_commit(t: SnapshotTable, rows: list, batch: int) -> None:
    from pyspark.sql import types as T

    from empdia_iceberg_spark.sources.table_sink import SnapshotStreamWriter

    schema = T.StructType.fromJson(json.loads(t._read_meta(1)["schema"]))
    w = SnapshotStreamWriter(
        {"table": t.name, "root": t.root, "run_id": "occ"}, schema
    )
    w.commit([w.write(iter(rows))], batch)


def _pos_deletes(t: SnapshotTable) -> list:
    meta = t._read_meta(t.current_version())
    return [dd for dd in meta.get("delete_dirs", []) if dd.get("kind") == "position"]


def _schema_of(t: SnapshotTable) -> dict:
    meta = t._read_meta(t.current_version())
    return {f["name"]: f["type"] for f in json.loads(meta["schema"])["fields"]}


# (id, setup(t, spark), write(t, spark), check(t)) — `check` asserts the
# writer's own effect; the shared assertions cover the concurrent row and
# orphaned dirs.
WRITERS = [
    (
        "evolve_partitioning",
        None,
        lambda t, s: t.evolve_partitioning(["p"]),
        lambda t: t.current_spec() == ["p"],
    ),
    (
        "add_column",
        None,
        lambda t, s: t.add_column("w", "int"),
        lambda t: "w" in _schema_of(t),
    ),
    (
        "drop_column",
        None,
        lambda t, s: t.drop_column("v"),
        lambda t: "v" not in _schema_of(t),
    ),
    (
        "rename_column",
        None,
        lambda t, s: t.rename_column("v", "v2"),
        lambda t: _rows(t)[100]["v2"] == "late",
    ),
    (
        "alter_column_type",
        None,
        lambda t, s: t.alter_column_type("k", "bigint"),
        lambda t: _schema_of(t)["k"] == "long",
    ),
    (
        "set_properties",
        None,
        lambda t, s: t.set_properties({"owner": "etl"}),
        lambda t: t.properties() == {"owner": "etl"},
    ),
    (
        "unset_properties",
        lambda t, s: t.set_properties({"owner": "etl", "tier": "gold"}),
        lambda t, s: t.unset_properties(["tier"]),
        lambda t: t.properties() == {"owner": "etl"},
    ),
    (
        "add_constraint",
        None,
        lambda t, s: t.add_constraint("k_pos", "k > 0"),
        lambda t: t.constraints() == {"k_pos": "k > 0"},
    ),
    (
        "drop_constraint",
        lambda t, s: t.add_constraint("k_pos", "k > 0"),
        lambda t, s: t.drop_constraint("k_pos"),
        lambda t: t.constraints() == {},
    ),
    (
        "set_not_null",
        None,
        lambda t, s: t.set_not_null("k"),
        lambda t: t._read_meta(t.current_version())["not_null"] == ["k"],
    ),
    (
        "drop_not_null",
        lambda t, s: t.set_not_null("k"),
        lambda t, s: t.drop_not_null("k"),
        lambda t: "not_null" not in t._read_meta(t.current_version()),
    ),
    (
        "analyze",
        None,
        lambda t, s: t.analyze(["k"]),
        # the retried pass counted the concurrent row
        lambda t: t._read_meta(t.current_version())["stats"]["row_count"] == 5,
    ),
    (
        "append_checked",
        None,
        lambda t, s: t.append_checked(s.createDataFrame([(50, "n", "x")], _SCHEMA)),
        lambda t: _rows(t)[50]["v"] == "n",
    ),
    (
        "overwrite_partitions",
        "partitioned",
        lambda t, s: t.overwrite_partitions(
            s.createDataFrame([(7, "new", "x")], _SCHEMA)
        ),
        lambda t: {k for k, r in _rows(t).items() if r["p"] == "x"} == {7}
        and {3, 4} <= set(_rows(t)),
    ),
    (
        "merge",
        None,
        lambda t, s: t.merge(
            s.createDataFrame([(1, "UPD", "x"), (60, "ins", "y")], _SCHEMA), key="k"
        ),
        lambda t: _rows(t)[1]["v"] == "UPD" and 60 in _rows(t),
    ),
    (
        "delete_where_mor",
        None,
        lambda t, s: t.delete_where_mor(F.col("k") == 2, key="k"),
        lambda t: set(_rows(t)) == {1, 3, 4, 100},
    ),
    (
        "delete_where_position",
        None,
        lambda t, s: t.delete_where_position(F.col("k") == 3),
        lambda t: set(_rows(t)) == {1, 2, 4, 100},
    ),
    (
        "rewrite_position_deletes",
        lambda t, s: (
            t.delete_where_position(F.col("k") == 1),
            t.delete_where_position(F.col("k") == 2),
        ),
        lambda t, s: t.rewrite_position_deletes(),
        lambda t: len(_pos_deletes(t)) == 1 and set(_rows(t)) == {3, 4, 100},
    ),
    (
        "update_where",
        None,
        lambda t, s: t.update_where(F.col("k") == 4, {"v": F.lit("U")}),
        lambda t: _rows(t)[4]["v"] == "U",
    ),
    (
        "delete_where_pruned",
        None,
        lambda t, s: t.delete_where_pruned(F.col("k") == 4),
        lambda t: set(_rows(t)) == {1, 2, 3, 100},
    ),
    (
        "compact_minor",
        lambda t, s: t.append(s.createDataFrame([(5, "e", "y")], _SCHEMA)),
        lambda t, s: t.compact_minor(),
        lambda t: t.snapshots()[-1]["op"] == "compact-minor"
        and len(t._read_meta(t.current_version())["dirs"]) == 1,
    ),
    (
        "sink_batch",
        None,
        lambda t, s: _sink_commit(t, [(70, "s", "y")], 0),
        lambda t: _rows(t)[70]["v"] == "s",
    ),
    (
        "sink_empty_batch",
        None,
        lambda t, s: _sink_commit(t, [], 0),
        lambda t: t.snapshots()[-1]["op"] == "append@occ#b0",
    ),
]


@pytest.mark.parametrize(
    "setup,write,check", [w[1:] for w in WRITERS], ids=[w[0] for w in WRITERS]
)
def test_writer_survives_concurrent_append(spark, monkeypatch, setup, write, check):
    """A concurrent append lands between the writer's read and its
    publish. The writer must rebuild against the fresh head: the
    concurrent row survives, the writer's effect lands, and the losing
    attempt leaves no unreferenced dir behind."""
    name = "t_occ_writer_unit"
    t = _fresh(spark, name, partition_by=["p"] if setup == "partitioned" else None)
    if callable(setup):
        setup(t, spark)

    real_commit = SnapshotTable._commit
    state = {"armed": True, "fired": False}

    def inject_commit(self, *a, **kw):
        if state["armed"] and self.name == name:
            state["armed"] = False
            SnapshotTable(spark, name, t.root).append(
                spark.createDataFrame([_LATE], _SCHEMA)
            )
            state["fired"] = True
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(SnapshotTable, "_commit", inject_commit)
    write(t, spark)
    monkeypatch.undo()

    assert state["fired"], "the writer never reached _commit"
    late = _rows(t)[100]
    assert (late["k"], late["p"]) == (100, "z"), late
    assert check(t)
    assert not _unreferenced(t)
    t.drop()


def test_append_refuses_stale_base_instead_of_losing_rows(spark, monkeypatch):
    """Writer B appends inside writer A's write window. A's plain
    append() must not publish its stale dir list (that dropped B's
    row); it raises CommitConflictError and reclaims its dir."""
    name = "t_append_lost_update_unit"
    t = SnapshotTable(spark, name, scratch_root())
    t.drop()
    t.create(spark.createDataFrame([(0, "a", "x")], _SCHEMA))

    real_write = SnapshotTable._write_data
    state = {"armed": True}

    def inject_write(self, df, spec=None):
        if state["armed"] and self.name == name:
            state["armed"] = False
            SnapshotTable(spark, name, t.root).append(
                spark.createDataFrame([(2, "b", "x")], _SCHEMA)
            )
        return real_write(self, df, spec)

    monkeypatch.setattr(SnapshotTable, "_write_data", inject_write)
    with pytest.raises(CommitConflictError):
        t.append(spark.createDataFrame([(1, "a", "x")], _SCHEMA))
    monkeypatch.undo()

    assert sorted(_rows(t)) == [0, 2]
    assert t.current_version() == 2
    assert not _unreferenced(t)
    t.drop()


def test_delete_where_mor_before_create_is_named(spark):
    t = SnapshotTable(spark, "t_mor_missing_unit", scratch_root())
    t.drop()
    with pytest.raises(ValueError, match="before create"):
        t.delete_where_mor(F.col("k") == 1, key="k")


def test_table_versions_past_99999(spark):
    """Metadata files are named v{version:05d}.json, so v100000 has six
    digits; parsing a fixed five-digit slice read it as v10000."""
    t = _fresh(spark, "t_version_overflow_unit")
    meta = t._read_meta(1)
    meta["version"] = 99999
    with open(os.path.join(t.meta_dir, "v99999.json"), "w") as f:
        json.dump(meta, f)
    os.remove(os.path.join(t.meta_dir, "v00001.json"))

    assert t.append(spark.createDataFrame([(5, "e", "x")], _SCHEMA)) == 100000
    assert t.current_version() == 100000
    assert sorted(_rows(t)) == [1, 2, 3, 4, 5]
    assert t.append(spark.createDataFrame([(6, "f", "x")], _SCHEMA)) == 100001
    assert sorted(_rows(t)) == [1, 2, 3, 4, 5, 6]
    t.drop()


def test_view_versions_past_99999(spark):
    from empdia_iceberg_spark.tables.ddl import _views_dir, execute_sql

    root = scratch_root()
    execute_sql(spark, "DROP VIEW IF EXISTS v_overflow_unit", root=root)
    execute_sql(spark, "CREATE VIEW v_overflow_unit AS SELECT 1 AS x", root=root)
    d = _views_dir(root, "v_overflow_unit")
    with open(os.path.join(d, "v00001.json")) as f:
        meta = json.load(f)
    meta["version"] = 99999
    with open(os.path.join(d, "v99999.json"), "w") as f:
        json.dump(meta, f)
    os.remove(os.path.join(d, "v00001.json"))

    def read():
        return execute_sql(spark, "SELECT x FROM v_overflow_unit", root=root).first().x

    for version, x in ((100000, 2), (100001, 3)):
        out = execute_sql(
            spark, f"CREATE OR REPLACE VIEW v_overflow_unit AS SELECT {x} AS x",
            root=root,
        )
        assert out["version"] == version
        assert read() == x
    execute_sql(spark, "DROP VIEW v_overflow_unit", root=root)
