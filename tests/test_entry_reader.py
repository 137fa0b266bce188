"""Single-entry reads use the schema their manifest entry recorded.

Every commit-log entry is staged by one job and records that job's
schema, so point reads, merges and DML read an entry without the
footer-merging schema inference that costs one Spark job per call.
Entries without a usable record (legacy manifests, corrupt strings)
fall back to inference and must read the same rows.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pyairbyte_spark import manifest as mf
from pyairbyte_spark.writers import CommitLogTableStore


def _df(spark, rows, ddl="id long, x int", tag="a"):
    return (
        spark.createDataFrame(rows, ddl)
        .withColumn(
            "_airbyte_raw_id", F.concat(F.lit(tag), F.col("id").cast("string"))
        )
        .withColumn("_airbyte_extracted_at", F.lit(0).cast("timestamp"))
    )


def _rows(df):
    return sorted((r["id"], r["x"]) for r in df.collect())


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_where_planning_launches_no_job(spark, tmp_path):
    """Building a point lookup over a bucketed table is manifest
    arithmetic plus schema-given readers: zero Spark jobs before the
    caller's action, and the same rows as a filtered full read."""
    st = CommitLogTableStore(spark, str(tmp_path / "wh"), "m", merge_buckets=8)
    st.write_merge(_df(spark, [(i, i) for i in range(1000)]), "t", ["id"])
    st.write_merge(_df(spark, [(3, -3), (500, -500)], tag="b"), "t", ["id"])
    st.write_merge(_df(spark, [(700, -7), (1005, 5)], tag="c"), "t", ["id"])
    man = st._read_manifest("t", st.latest_version("t"))
    assert len(man["entries"]) > 1  # the merges left several live entries
    st.read_where("t", [("id", "=", 42)]).collect()  # warm the session
    for k in (3, 42, 700, 1005):
        df, n = _jobs(
            spark, f"entry-read-{k}", lambda: st.read_where("t", [("id", "=", k)])
        )
        assert n == 0, (k, n)
        want = st.read("t").filter(F.col("id") == k)
        assert _rows(df) == _rows(want) != []
    # the sync tick's read of the touched buckets is job-free too
    _, n = _jobs(
        spark,
        "entry-read-buckets",
        lambda: st._read_buckets("t", man, {0, 1, 2}, []),
    )
    assert n == 0, n


def _widened(spark, tmp_path):
    """A bucketed table whose live entries disagree on ``x``: the base
    entry holds ``x int``, a one-key merge stages ``x long``."""
    st = CommitLogTableStore(spark, str(tmp_path / "w"), "m", merge_buckets=4)
    st.write_merge(_df(spark, [(i, i) for i in range(200)]), "t", ["id"])
    st.write_merge(
        _df(spark, [(3, 2**40)], "id long, x long", tag="b"), "t", ["id"]
    )
    man = st._read_manifest("t", st.latest_version("t"))
    kinds = {
        e["path"]: dict(
            (f["name"], f["type"]) for f in json.loads(e["schema"])["fields"]
        )["x"]
        for e in man["entries"]
    }
    assert sorted(kinds.values()) == ["integer", "long"], kinds
    return st, next(p for p, k in kinds.items() if k == "integer")


def test_per_entry_schemas_are_honoured(spark, tmp_path):
    st, _ = _widened(spark, tmp_path)
    ref = _rows(st.read("t"))
    assert dict(ref)[3] == 2**40 and dict(ref)[4] == 4
    big = [("x", ">=", 150)]
    assert _rows(st.read_where("t", big)) == [r for r in ref if r[1] >= 150]
    assert _rows(st.read_where("t", [("id", "=", 3)])) == [(3, 2**40)]
    assert st.count_where("t", big)["count"] == sum(r[1] >= 150 for r in ref)

    st.delete_where("t", [("id", "in", [3, 5, 150])])
    ref = [r for r in ref if r[0] not in (3, 5, 150)]
    assert _rows(st.read("t")) == ref

    st.update_where("t", [("id", "in", [7, 160])], {"x": "x + 2000000000"})
    ref = [(i, x + 2_000_000_000 if i in (7, 160) else x) for i, x in ref]
    assert _rows(st.read("t")) == ref

    st.write_merge(
        _df(spark, [(8, 2**41), (300, 1)], "id long, x long", tag="c"),
        "t",
        ["id"],
    )
    ref = sorted({**dict(ref), 8: 2**41, 300: 1}.items())
    assert _rows(st.read("t")) == ref
    assert _rows(st.read_where("t", [("x", ">", 2**31)])) == [
        r for r in ref if r[1] > 2**31
    ]


@pytest.mark.parametrize("collapse", [100_000, 0], ids=["files", "entries"])
def test_distributed_groups_carry_entry_schemas(
    spark, tmp_path, monkeypatch, collapse
):
    """The distributed venue takes each scan group's schema from its
    entry's sidecar header row: the same schema the driver venue reads
    from the manifest, in both the per-file and the collapsed regime."""
    monkeypatch.setattr(mf, "PARQUET_CHECKPOINT_MIN_ENTRIES", 1)
    st, _ = _widened(spark, tmp_path)
    ref = _rows(st.read("t"))
    wh, name = os.path.dirname(st.root), os.path.basename(st.root)
    dist = CommitLogTableStore(spark, wh, name)
    dist.DISTRIBUTED_MANIFEST_MIN_BYTES = 0
    dist.DISTRIBUTED_SURVIVOR_COLLAPSE_MIN = collapse
    drv = CommitLogTableStore(spark, wh, name)
    for preds in ([], [("id", "=", 3)], [("x", ">=", 150)]):
        p_dist = dist.plan_scan("t", preds)
        assert p_dist.get("distributed") is True
        by_entry = {
            os.path.basename(g["base"]): g["schema"]
            for g in drv.plan_scan("t", preds)["groups"]
        }
        assert p_dist["groups"]
        for g in p_dist["groups"]:
            assert g["schema"] == by_entry[os.path.basename(g["base"])]
            assert dist._entry_schema(g) is not None
        assert _rows(dist.read_where("t", preds)) == _rows(
            drv.read_where("t", preds)
        )
    assert _rows(dist.read_where("t", [])) == ref


def _rewrite_entry_schema(st, table, entry_path, value):
    """Rewrite ``entry_path``'s recorded schema in every stored commit
    (full manifests and deltas alike): drop the key when ``value`` is
    None, else store ``value``. Returns a fresh store over the table."""

    def patch(node):
        if isinstance(node, dict):
            if node.get("path") == entry_path and "schema" in node:
                if value is None:
                    node.pop("schema")
                else:
                    node["schema"] = value
            for v in node.values():
                patch(v)
        elif isinstance(node, list):
            for v in node:
                patch(v)

    d = st._commits_dir(table)
    for name in os.listdir(d):
        if not name.endswith(".json"):
            continue
        p = os.path.join(d, name)
        with open(p) as fh:
            doc = json.load(fh)
        patch(doc)
        with open(p, "w") as fh:
            json.dump(doc, fh)
    return CommitLogTableStore(
        st.spark, os.path.dirname(st.root), os.path.basename(st.root)
    )


@pytest.mark.parametrize(
    "recorded", [None, '{"type": "struct", "fields": ['], ids=["legacy", "corrupt"]
)
def test_unusable_recorded_schema_falls_back(spark, tmp_path, recorded):
    """A legacy entry without a ``schema`` key, or one whose record
    does not parse, is read through footer inference: point reads and
    merges see the same rows as before."""
    st, int_entry = _widened(spark, tmp_path)
    ref = _rows(st.read("t"))
    fresh = _rewrite_entry_schema(st, "t", int_entry, recorded)
    man = fresh._read_manifest("t", fresh.latest_version("t"))
    (e,) = [e for e in man["entries"] if e["path"] == int_entry]
    assert fresh._entry_schema(e) is None
    assert _rows(fresh.read("t")) == ref
    assert _rows(fresh.read_where("t", [("id", "in", [3, 4, 199])])) == [
        r for r in ref if r[0] in (3, 4, 199)
    ]
    fresh.write_merge(
        _df(spark, [(i, -i) for i in range(0, 200, 10)], tag="m"),
        "t",
        ["id"],
    )
    want = sorted({**dict(ref), **{i: -i for i in range(0, 200, 10)}}.items())
    assert _rows(fresh.read("t")) == want


@pytest.mark.parametrize(
    "sj",
    [
        "{not json",
        "[1, 2]",
        '"struct"',
        '{"type": "struct"}',
        '{"type": "struct", "fields": [{"name": "x", "type": "nope"}]}',
        '{"type": "struct", "fields": [{"type": "long"}]}',
        '{"type": "struct", "fields": [1]}',
    ],
)
def test_entry_schema_parse_errors_mean_none(sj):
    assert CommitLogTableStore._entry_schema({"schema": sj}) is None
