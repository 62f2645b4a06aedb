"""The snapshot table format's commit step, seen through every mutation.

Each of the seven mutations publishes through one commit step that
builds version v+1 from version v's manifest. These tests pin what
that step owns: the manifest's key set, a stats entry per live file,
byte-equal stats for the files that survive, and the bloom column list
and app-id ledger carried forward unless the op itself sets them.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from gpu_olap_engine_spark.sources import table_format as tf

MANIFEST_KEYS = {
    "version", "op", "files", "schema", "app_ids", "bloom_columns", "stats",
}


def _kv(spark, rows, parts=1):
    return spark.createDataFrame(rows, "k long, v long").repartition(parts)


@pytest.fixture(scope="module")
def base_table(spark, tmp_path_factory):
    """A table three commits deep: four create-time files with a bloom
    filter on k, two one-row appends, and a merge that recorded
    ("seed", 0) in the ledger."""
    path = str(tmp_path_factory.mktemp("commit") / "base")
    df = spark.range(100, numPartitions=4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    tf.create_table(df, path, bloom_columns=["k"])
    tf.append_table(_kv(spark, [(200, 2000), (201, 2010)], parts=2), path)
    tf.merge_into(spark, path, _kv(spark, [(3, -3)]), ["k"], app_id=("seed", 0))
    return path


# (op label, mutation, app-id ledger entry the op records)
MUTATIONS = [
    (
        "create",
        lambda s, p: tf.create_table(
            s.range(10).select(F.col("id").alias("k")), p, bloom_columns=["k"]
        ),
        None,
    ),
    (
        "append",
        lambda s, p: tf.append_table(
            s.createDataFrame([(300, 1, "en")], "k long, v long, lang string"),
            p,
            merge_schema=True,
        ),
        None,
    ),
    (
        "merge",
        lambda s, p: tf.merge_into(
            s, p, _kv(s, [(5, -5), (400, 4)]), ["k"], app_id=("t", 1)
        ),
        ("t", 1),
    ),
    ("delete", lambda s, p: tf.delete_where(s, p, "k < 10"), None),
    ("compact", lambda s, p: tf.compact_table(s, p, 2), None),
    (
        "apply_changes",
        lambda s, p: tf.apply_changes(
            s,
            p,
            _kv(s, [(6, -6)]),
            s.createDataFrame([(7,)], "k long"),
            ["k"],
            app_id=("t", 1),
        ),
        ("t", 1),
    ),
    (
        "compact_small",
        lambda s, p: tf.compact_small_files(s, p, min_rows=10),
        None,
    ),
]


@pytest.mark.parametrize(
    "op,mutate,ledger", MUTATIONS, ids=[m[0] for m in MUTATIONS]
)
def test_commit_step_invariants(spark, tmp_path, base_table, op, mutate, ledger):
    path = str(tmp_path / "t")
    if op == "create":
        prev = {
            "version": -1, "files": [], "stats": {}, "app_ids": {},
            "bloom_columns": ["k"],
        }
    else:
        shutil.copytree(base_table, path)
        prev = tf._load_manifest(path, tf.latest_version(path))
    mutate(spark, path)
    m = tf._load_manifest(path, tf.latest_version(path))

    assert set(m) == MANIFEST_KEYS
    assert m["version"] == prev["version"] + 1 and m["op"] == op
    assert set(m["stats"]) == set(m["files"])
    assert len(set(m["files"])) == len(m["files"])
    survivors = [f for f in m["files"] if f in prev["files"]]
    added = [f for f in m["files"] if f not in prev["files"]]
    assert added
    assert survivors or op in ("create", "compact")
    for f in survivors:
        assert m["stats"][f] == prev["stats"][f]
    for f in added:
        assert set(m["stats"][f]["bloom"]) == {"k"}
    assert m["bloom_columns"] == prev["bloom_columns"]
    want_ids = dict(prev["app_ids"])
    if ledger is not None:
        want_ids[ledger[0]] = ledger[1]
    assert m["app_ids"] == want_ids
    if op == "append":
        assert [f["name"] for f in m["schema"]["fields"]] == ["k", "v", "lang"]
    elif op != "create":
        assert m["schema"] == prev["schema"]
