"""Index integrity checker: healthy trees report clean, injected
corruption is classified correctly (errors vs warnings), deep mode
verifies row-level parity."""

from __future__ import annotations

import os
import shutil

import pytest

from assignment3_qachatapplication_vectorembeddings_spark.operators.index_fsck import (
    fsck_derived,
    fsck_primary,
)
from assignment3_qachatapplication_vectorembeddings_spark.operators.index_maintenance import (
    VectorIndex,
)
from assignment3_qachatapplication_vectorembeddings_spark.operators.index_sync import (
    SyncedIvfpqIndex,
    SyncedTextIndex,
)

ROWS = [
    (f"form{i}_{j}", [float(i), float(j), 1.0, 0.0], f"form{i}", f"form{i} text {j}")
    for i in range(3)
    for j in range(4)
]
SCHEMA = "id string, vector array<float>, title string, text string"


@pytest.fixture()
def tree(spark, tmp_path):
    vi = VectorIndex(spark, str(tmp_path / "primary"))
    vi.upsert(spark.createDataFrame(ROWS, SCHEMA))
    ann = SyncedIvfpqIndex(vi, str(tmp_path / "ann"), nlist=2, m=2, nbits=2)
    ann.build()
    tix = SyncedTextIndex(vi, str(tmp_path / "tix"), buckets=4)
    tix.build()
    return vi, ann, tix


def test_healthy_tree_is_clean(tree, spark):
    vi, ann, tix = tree
    # churn a little so revoked maps / multiple versions exist
    vi.upsert(
        spark.createDataFrame(
            [("form0_new", [9.0, 9.0, 1.0, 0.0], "form0", "fresh")], SCHEMA
        )
    )
    ann.refresh()
    tix.refresh()
    for rep in (
        fsck_primary(vi, deep=True),
        fsck_derived(ann, deep=True),
        fsck_derived(tix, deep=True),
    ):
        assert rep["errors"] == [], rep
        assert rep["info"]["exists"]
    assert fsck_derived(ann)["info"]["live_segments"] >= 1


def test_missing_index_reports_not_exists(spark, tmp_path):
    vi = VectorIndex(spark, str(tmp_path / "nothing"))
    rep = fsck_primary(vi)
    assert rep["info"]["exists"] is False and rep["errors"] == []


def test_orphan_dirs_warn_not_error(tree):
    vi, ann, _ = tree
    os.makedirs(f"{vi.path}/data/g{77:020d}-deadbeef", exist_ok=True)
    os.makedirs(f"{ann.path}/seg-v{77:020d}-t{10**11:016d}-feedface", exist_ok=True)
    os.makedirs(f"{ann.path}/quantizer-t{10**11:016d}-cafecafe", exist_ok=True)
    prep = fsck_primary(vi)
    drep = fsck_derived(ann)
    assert prep["errors"] == [] and prep["info"]["orphan_generations"] == 1
    assert drep["errors"] == [] and drep["info"]["orphan_dirs"] == 2
    assert any("unreferenced" in w for w in drep["warnings"])


def test_missing_referenced_dirs_are_errors(tree):
    vi, ann, _ = tree
    meta = ann._vlog.latest()
    seg = next(iter(set(meta["assign"].values())))
    shutil.rmtree(f"{ann.path}/{seg}")
    shutil.rmtree(f"{ann.path}/{meta['quantizer_dir']}")
    rep = fsck_derived(ann)
    assert any("missing segment" in e for e in rep["errors"])
    assert any("missing quantizer dir" in e for e in rep["errors"])
    gen = next(iter(set(vi._vlog.latest()["partitions"].values())))
    shutil.rmtree(f"{vi.path}/{gen}")
    prep = fsck_primary(vi)
    assert any("missing generation" in e for e in prep["errors"])


def test_vacuumed_snapshot_and_drift_are_warnings(tree, spark):
    vi, ann, _ = tree
    # advance the primary twice and vacuum the snapshot the meta indexed
    for k in range(2):
        vi.upsert(
            spark.createDataFrame(
                [(f"n{k}", [1.0, 2.0, 3.0, 4.0], "formN", "new")], SCHEMA
            )
        )
    vi.vacuum(keep_versions=1, min_age_sec=0)
    rep = fsck_derived(ann)
    assert rep["errors"] == []
    assert any("vacuumed" in w for w in rep["warnings"])


def test_deep_mode_catches_served_primary_divergence(tree, spark):
    vi, ann, _ = tree
    # hand-tamper: delete one row's codes from the segment parquet is
    # fiddly — instead re-point a title at a WRONG (empty) segment in a
    # forged meta, which deep mode must flag as missing served ids
    meta = ann._vlog.latest()
    forged = dict(meta)
    seg = ann._new_segment(meta["data_version"])
    os.makedirs(f"{ann.path}/{seg}/cluster=0", exist_ok=True)
    # an empty (schema-only) segment directory serves zero rows
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "id": pa.array([], pa.string()),
                "title": pa.array([], pa.string()),
                "codes": pa.array([], pa.list_(pa.int32())),
                "norm": pa.array([], pa.float64()),
            }
        ),
        f"{ann.path}/{seg}/cluster=0/part-0.parquet",
    )
    old_seg = meta["assign"]["form0"]
    forged["assign"] = dict(meta["assign"], form0=seg)
    revoked = {s_: list(v) for s_, v in (meta.get("revoked") or {}).items()}
    revoked.setdefault(old_seg, []).append("form0")  # really repointed
    revoked[seg] = []
    forged["revoked"] = revoked
    ann._publish_meta(meta["meta_version"] + 1, forged)
    rep = fsck_derived(ann, deep=True)
    assert any("served id-set != primary" in e for e in rep["errors"])


def test_foreign_format_and_revoked_less_metas_are_errors(tree):
    """Each derived index has one on-disk format: fsck reports a meta
    with a missing or foreign ``format`` as an error that says to
    rebuild, and a meta without a ``revoked`` map as corrupt."""
    import json as _json

    _, ann, tix = tree
    for idx in (ann, tix):
        meta = idx._vlog.latest()
        forged = [
            {k: v for k, v in meta.items() if k != "format"},
            dict(meta, format=idx.FORMAT + 1),
            {k: v for k, v in meta.items() if k != "revoked"},
        ]
        first = meta["meta_version"] + 1
        for v, payload in enumerate(forged, start=first):
            idx._vlog.publish(v, _json.dumps(payload).encode())
        errors = fsck_derived(idx)["errors"]
        assert any(
            f"meta v{first} has format None" in e and "rebuild" in e
            for e in errors
        ), errors
        assert any(
            f"meta v{first + 1} has format {idx.FORMAT + 1}" in e
            and "rebuild" in e
            for e in errors
        ), errors
        assert any(
            f"meta v{first + 2} has no usable 'revoked' map" in e
            for e in errors
        ), errors


def test_cli_fsck_subcommand(tree, capsys):
    import json as _json

    from assignment3_qachatapplication_vectorembeddings_spark.cli import (
        main as cli_main,
    )

    vi, ann, tix = tree
    rc = cli_main(
        ["fsck", "--index", vi.path, "--ivfpq", ann.path, "--text", tix.path]
    )
    assert rc == 0
    reports = [
        _json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert len(reports) == 3 and all(r["errors"] == [] for r in reports)
