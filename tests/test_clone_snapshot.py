"""clone_snapshot (round 10): marker-cut-consistent physical clone of
a streaming-store snapshot — the backup / DR / promotion primitive.

Contract under test: the cut is the set of committed markers listed
FIRST; data copies next (a crash there leaves an INVISIBLE dst); the
surviving markers land LAST, so every committed dir at dst is whole.
The one legal mid-copy mutation — the rollup fold's ``v_*`` prune —
drops that version from the cut, exactly as a later cut would have.
Everything else vanishing raises (under the held maintenance lock,
only maintenance deletes those paths, and maintenance is locked out).
The clone is verified by the destination's own fsck, not by trusting
the copy.
"""

from __future__ import annotations

import os
import shutil

import pytest

from twitter_social_triangle_mapreduce_spark.cli import run_maintain
from twitter_social_triangle_mapreduce_spark.streaming import (


    ConcurrentMaintenanceError,
    ann_topk_snapshot,
    clone_snapshot,
    compact_passage_cuts,
    fold_cluster_batch,
    fold_passage_batch,
    fold_semantic_batch,
    maintenance_check,
    read_cluster_snapshot,
    read_passage_cuts,
    read_semantic_snapshot,
)

# Round 13 (r12 verdict item 1a): this whole suite is a streaming-
# fold / maintenance / rebuild probe battery - heavyweight by nature
# (fresh stores, multi-generation snapshots, stateful queries). It
# runs in the closing battery (--runslow / RUN_SLOW=1), keeping the
# default gate inside the driver's window. The oracle-differential,
# golden, plan-shape, and digest suites stay in the default gate.
pytestmark = pytest.mark.slow

DIMS = 8


def _emb(spark, rows):
    return spark.createDataFrame(
        [(v, [float(x) for x in e]) for v, e in rows],
        "vec_id long, embedding array<float>",
    )


def test_clone_semantic_store_with_generations(
    spark, tmp_path, shared_semantic_store_compacted
):
    """The richest flat-store layout: batch dirs + a committed
    generation + ledgers + version states + the bits pin all survive
    the clone, byte-compatible with the read path."""
    src = shared_semantic_store_compacted
    dst = str(tmp_path / "dst")
    got = clone_snapshot(spark, src, dst)
    assert got["files"] > 0 and got["markers"] > 0 and not got["skipped"]
    assert sorted(
        map(tuple, read_semantic_snapshot(spark, dst).collect())
    ) == sorted(map(tuple, read_semantic_snapshot(spark, src).collect()))
    sev = {r["severity"] for r in maintenance_check(spark, dst).collect()}
    assert sev == {"ok"}
    # the clone released the source lock on its way out
    assert not os.path.exists(
        os.path.join(src, "markers", "_MAINTENANCE_LOCK")
    )


def test_clone_quantized_ann_store_serves_identically(
    spark, tmp_path, shared_quantized_ann_store
):
    src = shared_quantized_ann_store
    dst = str(tmp_path / "dst")
    clone_snapshot(spark, src, dst)
    q = _emb(spark, [(0, [1.0, 0.0, 0.0, 0.0])])

    def serve(snap):
        return sorted(
            map(
                tuple,
                ann_topk_snapshot(spark, snap, q, k=4, nprobe=2).collect(),
            )
        )

    assert serve(dst) == serve(src)


def test_clone_refuses_non_empty_destination(
    spark, tmp_path, shared_semantic_store
):
    dst = str(tmp_path / "dst")
    os.makedirs(os.path.join(dst, "something"))
    with pytest.raises(ValueError, match="not empty"):
        clone_snapshot(spark, shared_semantic_store, dst)


def test_clone_respects_the_source_maintenance_lock(
    spark, tmp_path, shared_semantic_store
):
    src = shared_semantic_store
    lock = os.path.join(src, "markers", "_MAINTENANCE_LOCK")
    os.makedirs(os.path.dirname(lock), exist_ok=True)
    with open(lock, "w") as f:
        f.write("feedc0de" * 4)
    dst = str(tmp_path / "dst")
    with pytest.raises(ConcurrentMaintenanceError, match="holds"):
        clone_snapshot(spark, src, dst)
    assert not os.path.exists(os.path.join(dst, "markers"))
    os.remove(lock)
    assert clone_snapshot(spark, src, dst)["markers"] > 0
    assert not os.path.exists(lock)  # clone released its own lock


def test_concurrent_fold_prune_drops_the_version_from_the_cut(
    spark, tmp_path, fresh_semantic_store
):
    """Simulate the one legal racing mutation: between the cut and the
    copy, the feeding stream's fold prunes an old v_* past its
    keep-window. The clone must neither fail nor commit the vanished
    version — it lands exactly the clone a later cut would have."""
    src = fresh_semantic_store  # keeps v_1, v_2
    pruned = os.path.join(src, "v_" + f"{1:020d}")
    assert os.path.isdir(pruned)

    def fold_prunes_v1():
        shutil.rmtree(pruned)

    dst = str(tmp_path / "dst")
    got = clone_snapshot(spark, src, dst, _after_cut=fold_prunes_v1)
    assert got["skipped"] == ["v_" + f"{1:020d}"]
    assert not os.path.exists(os.path.join(dst, "v_" + f"{1:020d}"))
    # dst serves the newest version, is fsck-clean, and src data that
    # was NOT pruned is all there
    assert sorted(
        map(tuple, read_semantic_snapshot(spark, dst).collect())
    ) == sorted(map(tuple, read_semantic_snapshot(spark, src).collect()))
    sev = {r["severity"] for r in maintenance_check(spark, dst).collect()}
    assert sev == {"ok"}


def test_unexpected_vanish_raises_instead_of_silently_dropping(
    spark, tmp_path, fresh_semantic_store_2fold
):
    """A non-prunable path (here: an embs batch dir — only locked-out
    maintenance may delete those) vanishing mid-copy is real trouble
    and must abort the clone, never shrink it."""
    src = fresh_semantic_store_2fold

    def rogue_delete():
        shutil.rmtree(os.path.join(src, "embs", "b_" + "0" * 20))

    with pytest.raises(Exception, match="b_0|copy|exist"):
        clone_snapshot(
            spark, src, str(tmp_path / "dst"), _after_cut=rogue_delete
        )


def test_cli_clone_prints_summary(
    spark, tmp_path, capsys, shared_semantic_store
):
    src = shared_semantic_store
    dst = str(tmp_path / "dst")
    run_maintain(spark, src, "clone", dest=dst)
    out = capsys.readouterr().out
    assert out.startswith("CLONED:\t")
    assert "markers" in out
    with pytest.raises(SystemExit, match="--dest"):
        run_maintain(spark, src, "clone")


def test_sync_refreshes_a_previous_clone_through_compaction_and_reband(
    spark, tmp_path, fresh_semantic_store_2fold
):
    """The incremental-backup loop: clone, then the source lives on
    (fold + compaction + re-band), then sync. The sync must carry the
    new generation, the new serving state, AND the rewritten root
    width pin — the pin dir is refreshed by overwrite with NEW part
    names, so without the file-level mirror the destination pin dir
    would hold two parquet files and read two rows."""
    from twitter_social_triangle_mapreduce_spark.streaming import (
        compact_semantic_embs as compact,
        maintenance_status,
        reband_semantic_store,
    )

    src = fresh_semantic_store_2fold
    dst = str(tmp_path / "dst")
    clone_snapshot(spark, src, dst)

    fold_semantic_batch(
        _emb(spark, [(100, [0.0] * 7 + [1.0])]), 2, src, dims=DIMS
    )
    compact(spark, src)
    assert reband_semantic_store(spark, src, bits=10, dims=DIMS) == 10

    got = clone_snapshot(spark, src, dst, sync=True)
    assert got["files"] > 0  # the new generation/state/pins moved
    assert sorted(
        map(tuple, read_semantic_snapshot(spark, dst).collect())
    ) == sorted(map(tuple, read_semantic_snapshot(spark, src).collect()))
    sev = {r["severity"] for r in maintenance_check(spark, dst).collect()}
    assert sev == {"ok"}
    # the width pin reads ONE unambiguous row at the new width
    stat = {
        (r["component"], r["metric"]): r["value"]
        for r in maintenance_status(spark, dst).collect()
    }
    assert stat[("bits", "pinned")] == 10.0

    again = clone_snapshot(spark, src, dst, sync=True)
    assert again["files"] == 0 and again["markers"] == 0  # idempotent


def test_sync_refuses_a_destination_that_was_never_a_clone(
    spark, tmp_path, shared_semantic_store
):
    """sync DELETES files while mirroring — a mistyped --dest pointing
    at an unrelated non-empty tree must be refused, not mirrored."""
    src = shared_semantic_store
    dst = str(tmp_path / "unrelated")
    os.makedirs(dst)
    with open(os.path.join(dst, "precious.txt"), "w") as f:
        f.write("do not delete")
    with pytest.raises(ValueError, match="never a clone"):
        clone_snapshot(spark, src, dst, sync=True)
    assert os.path.exists(os.path.join(dst, "precious.txt"))


def test_concurrent_fold_prune_of_a_reband_state_drops_it_from_the_cut(
    spark, tmp_path, fresh_semantic_store
):
    """The fold's keep-window prune orders fold versions AND re-band
    rewrites (``r_<base>_<seq>``) uniformly — an r_* vanishing between
    cut and copy is the same legal race as a v_* and must be dropped
    from the cut, not raised as a contract violation (advisor finding,
    round 11: v_-only made clones of a live re-banded store fail
    spuriously)."""
    from twitter_social_triangle_mapreduce_spark.streaming import (
        reband_semantic_store,
    )

    src = fresh_semantic_store
    assert reband_semantic_store(spark, src, bits=10, dims=DIMS) == 10
    assert reband_semantic_store(spark, src, bits=12, dims=DIMS) == 12
    rstates = sorted(n for n in os.listdir(src) if n.startswith("r_"))
    assert len(rstates) >= 2  # keep-window retains the two newest
    older = rstates[0]

    dst = str(tmp_path / "dst")
    got = clone_snapshot(
        spark,
        src,
        dst,
        _after_cut=lambda: shutil.rmtree(os.path.join(src, older)),
    )
    assert got["skipped"] == [older]
    assert not os.path.exists(os.path.join(dst, older))
    assert sorted(
        map(tuple, read_semantic_snapshot(spark, dst).collect())
    ) == sorted(map(tuple, read_semantic_snapshot(spark, src).collect()))
    sev = {r["severity"] for r in maintenance_check(spark, dst).collect()}
    assert sev == {"ok"}


def test_inflight_spark_task_staging_is_excluded_from_the_cut(
    spark, tmp_path, fresh_semantic_store_2fold
):
    """An un-paused fold's write is mid-flight during the clone: its
    ``_temporary`` / ``.spark-staging*`` task files vanish on task
    commit (renamed into place). They are excluded at the cut — the
    clone neither copies them nor aborts when they disappear
    (advisor finding, round 11: DistCp behavior)."""
    src = fresh_semantic_store_2fold
    tmp1 = os.path.join(src, "embs", "b_" + f"{7:020d}", "_temporary", "0")
    os.makedirs(tmp1)
    with open(os.path.join(tmp1, "part-00000"), "w") as f:
        f.write("in-flight task bytes")
    tmp2 = os.path.join(src, ".spark-staging-abc123")
    os.makedirs(tmp2)
    with open(os.path.join(tmp2, "pending"), "w") as f:
        f.write("x")

    def task_commit_renames_them_away():
        shutil.rmtree(os.path.join(src, "embs", "b_" + f"{7:020d}"))
        shutil.rmtree(tmp2)

    dst = str(tmp_path / "dst")
    got = clone_snapshot(
        spark, src, dst, _after_cut=task_commit_renames_them_away
    )
    assert got["files"] > 0
    assert not os.path.exists(os.path.join(dst, ".spark-staging-abc123"))
    walked = [
        p for p, _, files in os.walk(dst) for _ in files
    ]
    assert not any("_temporary" in p for p in walked)
    sev = {r["severity"] for r in maintenance_check(spark, dst).collect()}
    assert sev == {"ok"}


def _two_fold_store(request, tmp_path, store: str) -> str:
    """A fresh 2-fold snapshot holding the flat store ``store``: the
    semantic store for ``embs``, a MinHash cluster store for ``bands``
    (committed by the serving v_1), a passage store for ``windows``
    (committed by the sibling cuts markers)."""
    if store == "embs":
        return request.getfixturevalue("fresh_semantic_store_2fold")
    spark = request.getfixturevalue("spark")
    snap = str(tmp_path / "src")
    fold = fold_cluster_batch if store == "bands" else fold_passage_batch
    for b, text in enumerate(
        ("alpha beta gamma delta epsilon", "zeta eta theta iota kappa")
    ):
        fold(
            spark.createDataFrame([(b, text)], "doc_id long, text string"),
            b,
            snap,
        )
    return snap


def _read_store(spark, snap, store):
    reader = {
        "embs": read_semantic_snapshot,
        "bands": read_cluster_snapshot,
        "windows": read_passage_cuts,
    }[store]
    return sorted(map(tuple, reader(spark, snap).collect()))


_PREFIX = {"embs": "b_", "bands": "b_", "windows": "w_"}


@pytest.mark.parametrize("store", ["embs", "bands", "windows"])
def test_vanished_uncommitted_batch_dir_is_dropped_not_fatal(
    spark, tmp_path, request, store
):
    """A fold replaying a CRASHED batch rewrites its own dir with
    mode("overwrite"), deleting the prior attempt's files — legally,
    without the lock. The cut shows the dir uncommitted (no serving
    version covers embs/bands b_2, no cuts/c_2 marker commits
    windows/w_2), so the clone drops it whole instead of raising;
    readers never saw it at the source either (advisor finding,
    round 11)."""
    src = _two_fold_store(request, tmp_path, store)
    # simulate the crashed batch-2 attempt: its dir written, no commit
    rel = f"{store}/{_PREFIX[store]}{2:020d}"
    crashed = os.path.join(src, rel)
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-00000.parquet"), "w") as f:
        f.write("half-written bytes from the crashed attempt")

    dst = str(tmp_path / "dst")
    got = clone_snapshot(
        spark, src, dst, _after_cut=lambda: shutil.rmtree(crashed)
    )
    assert got["skipped"] == [rel]
    assert not os.path.exists(os.path.join(dst, rel))
    assert _read_store(spark, dst, store) == _read_store(spark, src, store)
    sev = {r["severity"] for r in maintenance_check(spark, dst).collect()}
    assert sev == {"ok"}


@pytest.mark.parametrize(
    "store,victim",
    [("embs", 1), ("bands", 1), ("windows", 1), ("windows", 0)],
    ids=["embs", "bands", "windows", "windows-after-cuts-compaction"],
)
def test_vanished_committed_embs_dir_still_raises(
    spark, tmp_path, request, store, victim
):
    """The uncommitted-drop rule must not weaken the committed case: a
    batch dir whose commit proof is in the cut vanishing is real
    trouble and aborts the clone. embs/bands b_1 is covered by the
    serving v_1; windows/w_1 by cuts/c_1/_APPLIED (neither store
    carries an in-dir marker of its own). w_0 stays committed after a
    cuts compaction folded c_0 (and its marker) into a generation: a
    later committed cut batch proves it."""
    src = _two_fold_store(request, tmp_path, store)
    if victim == 0:
        fold_passage_batch(
            spark.createDataFrame(
                [(2, "lam mu nu xi omicron")], "doc_id long, text string"
            ),
            2,
            src,
        )
        assert compact_passage_cuts(spark, src) == 0
        assert not os.path.exists(os.path.join(src, "cuts", f"c_{0:020d}"))

    def rogue_delete():
        shutil.rmtree(
            os.path.join(src, store, f"{_PREFIX[store]}{victim:020d}")
        )

    with pytest.raises(IOError, match="vanished mid-copy"):
        clone_snapshot(
            spark, src, str(tmp_path / "dst"), _after_cut=rogue_delete
        )


def test_clone_to_an_explicit_scheme_destination(
    spark, tmp_path, shared_semantic_store
):
    """The destination resolves its OWN FileSystem (advisor finding,
    round 11: a DR target on another scheme hit Hadoop's 'Wrong FS').
    Locally both schemes resolve to the local fs, but the explicit
    ``file:`` URI exercises the separate dst-side resolution path."""
    src = shared_semantic_store
    dst = "file:" + str(tmp_path / "dst")
    got = clone_snapshot(spark, src, dst)
    assert got["files"] > 0 and got["markers"] > 0
    assert sorted(
        map(
            tuple,
            read_semantic_snapshot(spark, str(tmp_path / "dst")).collect(),
        )
    ) == sorted(map(tuple, read_semantic_snapshot(spark, src).collect()))


def _tree_digest(root):
    """Digest of every VISIBLE file. Dot-files are excluded: Hadoop's
    local ChecksumFileSystem re-creates .crc sidecars under the serial
    arm's FileUtil.copy, while the parallel arm's pyarrow streams do
    not — they are client-side artifacts hidden from every Hadoop
    listing (and absent on HDFS/S3), not part of the store."""
    import hashlib

    out = {}
    for dp, _dns, fns in os.walk(root):
        for fn in fns:
            if fn.startswith("."):
                continue
            p = os.path.join(dp, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.md5(
                    f.read()
                ).hexdigest()
    return out


def test_parallel_clone_is_byte_identical_to_serial(
    spark, tmp_path, shared_semantic_store_compacted
):
    """parallel=True moves the bytes executor-side (pyarrow.fs per
    task) but shares the cut/verify contract — the two arms must land
    byte-identical trees, fsck-clean, serving identically (r10 verdict
    item 3)."""
    src = shared_semantic_store_compacted
    serial = str(tmp_path / "serial")
    par = str(tmp_path / "par")
    a = clone_snapshot(spark, src, serial)
    b = clone_snapshot(spark, src, par, parallel=True)
    assert (a["files"], a["bytes"], a["markers"]) == (
        b["files"],
        b["bytes"],
        b["markers"],
    )
    assert _tree_digest(serial) == _tree_digest(par)
    sev = {r["severity"] for r in maintenance_check(spark, par).collect()}
    assert sev == {"ok"}
    assert sorted(
        map(tuple, read_semantic_snapshot(spark, par).collect())
    ) == sorted(map(tuple, read_semantic_snapshot(spark, src).collect()))


def test_parallel_sync_is_incremental_and_idempotent(
    spark, tmp_path, fresh_semantic_store_2fold
):
    """The sync skip rule (same rel + same length == immutable store
    file) runs inside the task against the destination's own listing;
    an unchanged source syncs zero files."""
    src = fresh_semantic_store_2fold
    dst = str(tmp_path / "dst")
    clone_snapshot(spark, src, dst, parallel=True)

    fold_semantic_batch(
        _emb(spark, [(50, [0.0] * 7 + [1.0])]), 2, src, dims=DIMS
    )
    got = clone_snapshot(spark, src, dst, sync=True, parallel=True)
    assert got["files"] > 0  # the new batch moved
    assert sorted(
        map(tuple, read_semantic_snapshot(spark, dst).collect())
    ) == sorted(map(tuple, read_semantic_snapshot(spark, src).collect()))
    again = clone_snapshot(spark, src, dst, sync=True, parallel=True)
    assert again["files"] == 0 and again["markers"] == 0


def test_parallel_clone_classifies_vanishes_like_serial(
    spark, tmp_path, fresh_semantic_store, fresh_semantic_store_2fold
):
    """The vanished-source classification is shared: a pruned v_* is
    dropped from the cut, and a committed dir vanishing still aborts —
    reported by the tasks, judged by the driver."""
    src = fresh_semantic_store
    pruned = os.path.join(src, "v_" + f"{1:020d}")
    dst = str(tmp_path / "dst")
    got = clone_snapshot(
        spark,
        src,
        dst,
        parallel=True,
        _after_cut=lambda: shutil.rmtree(pruned),
    )
    assert got["skipped"] == ["v_" + f"{1:020d}"]
    sev = {r["severity"] for r in maintenance_check(spark, dst).collect()}
    assert sev == {"ok"}

    src2 = fresh_semantic_store_2fold
    with pytest.raises(IOError, match="vanished mid-copy"):
        clone_snapshot(
            spark,
            src2,
            str(tmp_path / "dst2"),
            parallel=True,
            _after_cut=lambda: shutil.rmtree(
                os.path.join(src2, "embs", "b_" + f"{1:020d}")
            ),
        )


def test_cli_parallel_clone_prints_summary(
    spark, tmp_path, capsys, shared_semantic_store
):
    src = shared_semantic_store
    dst = str(tmp_path / "dst")
    run_maintain(spark, src, "clone", dest=dst, parallel=True)
    out = capsys.readouterr().out
    assert out.startswith("CLONED:\t")
