"""Conformance of the flat per-batch stores to their one layout table
(``streams._BATCH_STORES``), in the default gate.

The maintenance batteries are all ``slow``; without this file the
default gate would run no compaction of the band, cut, window or pack
stores at all. One tiny scenario per store: fold three batches, compact
(the reader's multiset is unchanged), fold a fourth, compact again (the
first generation folds forward), then the snapshot must pass
``maintenance_check`` and leave ``maintenance_gc`` nothing to reclaim.
The cut and window stores live in one passage snapshot, so they share
one run of the scenario.
"""

from __future__ import annotations

import pytest

from twitter_social_triangle_mapreduce_spark.streaming import (
    compact_cluster_bands,
    compact_pack_rows,
    compact_passage_cuts,
    compact_passage_windows,
    fold_cluster_batch,
    fold_pack_batch,
    fold_passage_batch,
    maintenance_check,
    maintenance_gc,
)
from twitter_social_triangle_mapreduce_spark.streaming.streams import (
    _BATCH_STORES,
    _PROOF_IN_DIR,
    _gen_dir,
    _store_dirs,
)

BOILER = "please accept cookies to continue using this website"
BATCHES = [
    [(1, f"alpha beta gamma {BOILER}"), (2, "delta epsilon")],
    [(10, "zeta eta theta iota kappa")],
    [(20, f"lam mu {BOILER} nu xi")],
    # repeats batch 0's passage: screened through the generation
    [(30, f"rho sigma {BOILER} tau upsilon")],
]
BUDGET = 8


def _fold_packs(df, batch_id, snap):
    fold_pack_batch(df, batch_id, snap, budget=BUDGET)


FOLDS = {
    "bands": fold_cluster_batch,
    "cuts": fold_passage_batch,
    "windows": fold_passage_batch,
    "packs": _fold_packs,
}
COMPACTS = {
    "bands": compact_cluster_bands,
    "cuts": compact_passage_cuts,
    "windows": compact_passage_windows,
    "packs": compact_pack_rows,
}


def _read(spark, snap, store):
    """``(live dir names, reader output)``: the live union a fold or
    reader consumes (committed-only where the store gates on in-dir
    markers)."""
    dirs = _store_dirs(
        spark, snap, store, marker_required=store.proof == _PROOF_IN_DIR
    )
    rows = spark.read.parquet(*store.data_paths(dirs)).collect()
    return [d.rsplit("/", 1)[1] for d in dirs], sorted(map(tuple, rows))


def _tape_end(batches):
    return sum(len(text.split(" ")) for rows in batches for _, text in rows)


def _run_scenario(spark, snap, fold, subs):
    """Fold/compact/fold/compact one snapshot holding the stores
    ``subs``; returns per store what the test asserts on."""
    seen = {sub: {} for sub in subs}

    def fold_batch(batch_id):
        df = spark.createDataFrame(
            BATCHES[batch_id], "doc_id long, text string"
        )
        fold(df, batch_id, snap)

    for b in range(3):
        fold_batch(b)
    for sub in subs:
        store, got = _BATCH_STORES[sub], seen[sub]
        _, got["before"] = _read(spark, snap, store)
        got["gen0"] = COMPACTS[sub](spark, snap)
        got["names"], got["after0"] = _read(spark, snap, store)
        if store.carry:
            got["carry"] = spark.read.parquet(
                f"{_gen_dir(store.parent(snap), 0)}/{store.carry}"
            ).collect()
    fold_batch(3)
    for sub in subs:
        store, got = _BATCH_STORES[sub], seen[sub]
        got["gen1"] = COMPACTS[sub](spark, snap)
        _, got["after1"] = _read(spark, snap, store)
    errors = [
        tuple(r)
        for r in maintenance_check(spark, snap).collect()
        if r["severity"] == "error"
    ]
    gc = maintenance_gc(spark, snap)
    for sub in subs:
        seen[sub]["errors"], seen[sub]["gc"] = errors, gc
    return seen


@pytest.fixture(scope="module")
def scenario(spark, tmp_path_factory):
    runs = {}

    def run(sub):
        fold = FOLDS[sub]
        if fold not in runs:
            subs = [s for s in FOLDS if FOLDS[s] is fold]
            snap = str(tmp_path_factory.mktemp(sub) / "snap")
            runs[fold] = _run_scenario(spark, snap, fold, subs)
        return runs[fold][sub]

    return run


@pytest.mark.parametrize("sub", sorted(FOLDS))
def test_flat_store_fold_compact_fold_compact(scenario, sub):
    store = _BATCH_STORES[sub]
    got = scenario(sub)
    # batches 0 and 1 fold; the newest committed batch 2 stays out
    assert got["gen0"] == 0
    assert got["after0"] == got["before"]
    assert got["names"] == ["g_" + "0" * 20, f"{store.prefix}{2:020d}"]
    if store.carry:
        # the generation carries its newest source's tape end
        assert [r["tape_end"] for r in got["carry"]] == [
            _tape_end(BATCHES[:2])
        ]
    # the live generation folds forward with batch 2; batch 3 stays out
    assert got["gen1"] == 1
    assert set(got["before"]) < set(got["after1"])
    if sub == "packs":
        # the 4th batch appended at the tape end of batches 0-2
        assert [r[2] for r in got["after1"] if r[0] == 30] == [
            _tape_end(BATCHES[:3])
        ]
    assert got["errors"] == []
    assert set(got["gc"].values()) == {0}
