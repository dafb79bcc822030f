"""Corpus-preparation operators (operators/corpus.py): decontamination,
repetition metrics, sequence packing. Value correctness is covered by the
differential oracle suite; here we pin the SCALE SHAPES — the properties
that decide whether these survive a 100 TB corpus — plus semantic edges
the oracle data cannot reach."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from twitter_social_triangle_mapreduce_spark.operators import corpus
from twitter_social_triangle_mapreduce_spark.sources.io import load_table

from conftest import SF_SMOKE


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_prefix_sum_is_two_pass(spark):
    """The global running sum must come from the bucketed two-pass form:
    the only single-partition exchange feeds the tiny bucket-totals
    window, never the full corpus relation."""
    docs = load_table(spark, SF_SMOKE, "documents")
    plan = (
        corpus.pack_sequences(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("SinglePartition") == 1
    # the per-document window is partitioned by bucket, so there must be
    # a hashpartitioning exchange on the bucket column
    assert "hashpartitioning" in plan
    assert plan.count("Window") == 2


def test_pack_straddle_and_tiny_docs(spark):
    """A doc longer than the budget spans multiple packs; consecutive
    small docs share one pack; offsets are contiguous in doc_id order."""
    rows = [
        (1, " ".join(["a"] * 10)),   # 10 tokens -> pack 0
        (2, " ".join(["b"] * 100)),  # straddles: starts pack 0, ends pack 1
        (3, "c"),                    # 1 token at offset 110 -> pack 1
    ]
    got = {
        r["doc_id"]: r
        for r in corpus.pack_sequences(_docs(spark, rows), budget=64)
        .collect()
    }
    assert got[1]["start_off"] == 0 and got[1]["pack_id"] == 0
    assert got[1]["end_pack"] == 0
    assert got[2]["start_off"] == 10
    assert got[2]["pack_id"] == 0 and got[2]["end_pack"] == 1
    assert got[3]["start_off"] == 110
    assert got[3]["pack_id"] == 1 and got[3]["end_pack"] == 1


def test_pack_bucket_span_invariance(spark):
    """The two-pass decomposition is an implementation detail: any
    bucket_span must produce identical offsets."""
    docs = load_table(spark, SF_SMOKE, "documents")
    a = sorted(
        map(tuple, corpus.pack_sequences(docs, bucket_span=7).collect())
    )
    b = sorted(
        map(tuple, corpus.pack_sequences(docs, bucket_span=1000).collect())
    )
    assert a == b


def test_decontaminate_probe_is_broadcast(spark):
    """The eval shingle-set must broadcast — the train side of a 100 TB
    corpus can never be shuffled for the contamination probe."""
    docs = load_table(spark, SF_SMOKE, "documents")
    plan = (
        corpus.decontaminate(
            docs.where("doc_id % 17 != 0"), docs.where("doc_id % 17 = 0")
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_flags_planted_overlap(spark):
    """A train doc sharing a long span with an eval doc is flagged; a
    disjoint doc is not; a short doc (< n words) is exempt (absent)."""
    phrase = "alpha beta gamma delta epsilon zeta"
    train = _docs(
        spark,
        [
            (1, f"intro words then {phrase} closing remark"),
            (2, "completely different content with no overlap at all"),
            (3, "tiny doc"),  # < 3 words -> no shingles -> absent
        ],
    )
    ev = _docs(spark, [(100, phrase)])
    got = {r["doc_id"]: r for r in corpus.decontaminate(train, ev).collect()}
    assert got[1]["contaminated"] == 1 and got[1]["n_hits"] >= 4
    assert got[2]["contaminated"] == 0 and got[2]["n_hits"] == 0
    assert 3 not in got


def test_repetition_separates_looping_from_diverse_text(spark):
    """A document that is one phrase repeated scores ~1e6 on both
    metrics; an all-distinct document scores low top2 and zero dup3."""
    looped = " ".join(["spam and eggs"] * 20)
    diverse = " ".join(f"w{i}" for i in range(60))
    got = {
        r["doc_id"]: r
        for r in corpus.repetition_stats(
            _docs(spark, [(1, looped), (2, diverse)])
        ).collect()
    }
    assert got[1]["dup3_e6"] > 900_000
    assert got[1]["top2_e6"] > 300_000  # 'eggs spam'/'and eggs'/'spam and'
    assert got[2]["dup3_e6"] == 0
    # 59 all-distinct bigrams -> top share floor(1e6/59)
    assert got[2]["top2_e6"] == 1_000_000 * 1 // got[2]["n_2grams"]


def test_pack_invariants_on_random_corpora(spark):
    """Property check over random doc sets: offsets are the exclusive
    prefix sums of token counts in doc_id order (conservation — no
    token is lost or double-counted), pack ids are monotone, and every
    doc's start lands inside its start pack."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        sizes=st.lists(st.integers(0, 150), min_size=1, max_size=40),
        budget=st.integers(8, 128),
    )
    def check(sizes, budget):
        rows = [
            (i, " ".join(["w"] * n) if n else "") for i, n in enumerate(sizes)
        ]
        got = sorted(
            corpus.pack_sequences(
                _docs(spark, rows), budget=budget, bucket_span=7
            ).collect(),
            key=lambda r: r["doc_id"],
        )
        # NB: splitting "" yields [""] -> 1 token, matching the oracle
        expect_tokens = [max(n, 1) for n in sizes]
        off = 0
        for r, n in zip(got, expect_tokens):
            assert r["n_tokens"] == n
            assert r["start_off"] == off
            assert r["pack_id"] == off // budget
            assert r["end_pack"] == (off + max(n, 1) - 1) // budget
            assert r["pack_id"] <= r["end_pack"]
            off += n

    check()


def test_training_shards_layout(spark, tmp_path):
    """Shard dirs partition the pack space; no doc lost; rows inside a
    shard come back in tape order when read file-sequentially."""
    import glob

    from twitter_social_triangle_mapreduce_spark.operators.corpus import (
        write_training_shards,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, budget=64, packs_per_shard=8)
    shard_dirs = glob.glob(f"{out}/shard=*")
    assert len(shard_dirs) > 1, "expected multiple shards"
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # partition pruning serves a single-shard read
    one = back.where(F.col("shard") == 0)
    assert 0 < one.count() < docs.count()
    # every pack_id maps into its shard's range
    bad = back.where(
        (F.col("pack_id") < F.col("shard") * 8)
        | (F.col("pack_id") >= (F.col("shard") + 1) * 8)
    )
    assert bad.count() == 0


def test_prepare_training_corpus_end_to_end(spark, tmp_path):
    """Capstone composition: the audit covers every document exactly
    once, the shard output contains exactly the kept docs, and each
    drop verdict agrees with its stage operator run standalone."""
    import glob

    from twitter_social_triangle_mapreduce_spark.operators.corpus import (
        prepare_training_corpus,
    )
    from twitter_social_triangle_mapreduce_spark.operators.dedup import (
        near_dup_clusters,
    )
    from twitter_social_triangle_mapreduce_spark.operators.text import (
        curate_corpus,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    ev = docs.where("doc_id % 17 = 0")
    out = str(tmp_path / "corpus")
    audit = prepare_training_corpus(docs, ev, out)
    rows = audit.collect()
    assert len(rows) == docs.count()
    verdicts = {r["doc_id"]: r["verdict"] for r in rows}

    kept_ids = {d for d, v in verdicts.items() if v == "kept"}
    assert kept_ids, "pipeline kept nothing"
    shard_ids = {
        r["doc_id"] for r in spark.read.parquet(out).collect()
    }
    assert shard_ids == kept_ids
    assert glob.glob(f"{out}/shard=*")

    # stage agreement on a sample of dropped docs
    cur = {
        r["doc_id"]: r["reason"] for r in curate_corpus(docs).collect()
    }
    nd = {
        r["doc_id"]: r["is_canonical"]
        for r in near_dup_clusters(docs).collect()
    }
    for d, v in verdicts.items():
        if v in ("exact_dup", "lang_unknown", "too_short", "low_stopword"):
            assert cur[d] == v, (d, v)
        elif v == "near_dup":
            assert cur[d] == "kept" and nd[d] == 0
        elif v == "kept":
            assert cur[d] == "kept" and nd[d] == 1


def test_repetition_requires_trigram_surface(spark):
    """Docs with <3 words emit nothing (no repetition surface)."""
    got = corpus.repetition_stats(
        _docs(spark, [(1, "two words"), (2, "a b c")])
    ).collect()
    assert {r["doc_id"] for r in got} == {2}


def test_chunk_documents_window_boundaries(spark):
    """chunk=4/stride=3 over a 7-token doc: starts 0/3/6, overlapping
    by one token, tail kept short; a 1-token doc yields one 1-token
    chunk; chunk ids are the start ordinals."""
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"])
        for r in corpus.chunk_documents(
            _docs(spark, [(1, "t0 t1 t2 t3 t4 t5 t6"), (2, "solo")]),
            chunk=4,
            stride=3,
        ).collect()
    )
    assert got == [
        (1, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 4, "t3 t4 t5 t6"),
        (1, 2, 1, "t6"),
        (2, 0, 1, "solo"),
    ]


def test_chunk_documents_covers_every_token(spark):
    """Non-overlapping config (stride == chunk): chunk texts concatenate
    back to the original document for every smoke doc — no token lost or
    duplicated."""
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMOKE, "documents")
    rebuilt = (
        corpus.chunk_documents(docs, chunk=8, stride=8)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("chunk_id", "chunk_text"))
                ).getField("chunk_text"),
                " ",
            ).alias("rebuilt")
        )
    )
    diff = (
        docs.join(rebuilt, "doc_id")
        .where(F.col("text") != F.col("rebuilt"))
        .count()
    )
    assert diff == 0


def test_prepare_training_corpus_lazy_matches_persisted(spark, tmp_path):
    """persist_audit=False (the fully lazy composition) must produce the
    identical audit and shard set as the default persisted path — the
    persist is a pure execution-strategy choice, never a semantic one."""
    from twitter_social_triangle_mapreduce_spark.operators.corpus import (
        prepare_training_corpus,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    ev = docs.where("doc_id % 17 = 0")
    out_p = str(tmp_path / "persisted")
    out_l = str(tmp_path / "lazy")
    audit_p = prepare_training_corpus(docs, ev, out_p)
    got_p = {(r["doc_id"], r["verdict"]) for r in audit_p.collect()}
    audit_p.unpersist()
    audit_l = prepare_training_corpus(
        docs, ev, out_l, persist_audit=False
    )
    got_l = {(r["doc_id"], r["verdict"]) for r in audit_l.collect()}
    assert got_p == got_l
    shards_p = {r["doc_id"] for r in spark.read.parquet(out_p).collect()}
    shards_l = {r["doc_id"] for r in spark.read.parquet(out_l).collect()}
    assert shards_p == shards_l


def test_capstone_cut_passages_excises_boilerplate_from_shards(spark, tmp_path):
    """cut_passages=True (round 4): a boilerplate passage shared by two
    surviving docs is excised from the non-canonical one BEFORE packing;
    verdicts are unchanged vs the default run, and the shard text for
    the affected doc equals the passage-deduped text."""
    from twitter_social_triangle_mapreduce_spark.operators.corpus import (
        prepare_training_corpus,
    )

    boiler = ("the quick brown fox of the meadow jumps over a lazy dog "
              "and runs to the river")  # 16 tokens, stopword-dense
    rows = [
        (1, f"{boiler} in the morning of a bright day to rest and play"),
        (2, f"{boiler} at the evening of a quiet night to sleep and dream"),
        (3, "the cat sat on the mat and it was happy to be there all of "
            "the long day with a friend of the house"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = docs.where("doc_id < 0")  # empty eval probe
    out_a = str(tmp_path / "plain")
    out_b = str(tmp_path / "cut")
    audit_a = prepare_training_corpus(docs, ev, out_a)
    audit_b = prepare_training_corpus(docs, ev, out_b, cut_passages=True)
    va = sorted(map(tuple, audit_a.collect()))
    vb = sorted(map(tuple, audit_b.collect()))
    audit_a.unpersist(); audit_b.unpersist()
    assert va == vb  # the passage stage never changes verdicts
    plain = {r["doc_id"]: r["text"]
             for r in spark.read.parquet(out_a).collect()}
    cut = {r["doc_id"]: r["text"]
           for r in spark.read.parquet(out_b).collect()}
    assert set(plain) == set(cut)  # same kept docs
    assert plain[1] == rows[0][1]  # canonical keeps the passage
    assert cut[1] == rows[0][1]
    assert boiler in plain[2] and boiler not in cut[2]
    assert cut[2].endswith("to sleep and dream")


def test_capstone_fully_cut_docs_audited_and_reconcile(spark, tmp_path):
    """Round-5 ADVICE regression: a surviving doc whose ENTIRE text is a
    duplicated passage (canonical occurrence lives inside a longer doc)
    is dropped from the shard input AND audited ``fully_cut`` — the
    audit's ``kept`` count must equal the packed doc count exactly, so
    shard contents reconcile against the audit."""
    from twitter_social_triangle_mapreduce_spark.operators.corpus import (
        prepare_training_corpus,
    )

    boiler = ("the quick brown fox of the meadow jumps over a lazy dog "
              "and runs down to the wide river near the old stone bridge "
              "by the farm")  # 24 tokens: clears the 20-token length gate
    # doc 1 embeds the boilerplate inside MUCH longer unique prose —
    # doc-level jaccard(1,2) = |sh2|/|sh1| ≈ 22/260 ≈ 0.085, far below
    # the (8,2) s-curve threshold (~0.5), so the MinHash gate stays
    # blind while every doc-2 window is canonical inside doc 1. The
    # filler templates carry stopwords (curation) and distinct counters
    # (no accidental intra-doc duplicate windows).
    filler_pre = " ".join(
        f"the mill w{i:03d} of a brook b{i:03d}" for i in range(20)
    )
    filler_post = " ".join(
        f"and the barn y{i:03d} by a field f{i:03d}" for i in range(15)
    )
    rows = [
        (1, f"{filler_pre} {boiler} {filler_post}"),
        (2, boiler),
        (3, "the cat sat on the mat and it was happy to be there all of "
            "the long day with a friend of the house"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = docs.where("doc_id < 0")
    out_plain = str(tmp_path / "plain")
    out_cut = str(tmp_path / "cut")
    plain_audit = {
        r["doc_id"]: r["verdict"]
        for r in prepare_training_corpus(docs, ev, out_plain).collect()
    }
    assert plain_audit[2] == "kept"  # doc-level gates are blind to it
    audit = prepare_training_corpus(docs, ev, out_cut, cut_passages=True)
    verdicts = {r["doc_id"]: r["verdict"] for r in audit.collect()}
    assert verdicts[2] == "fully_cut"
    assert verdicts[1] == "kept" and verdicts[3] == "kept"
    packed_ids = {
        r["doc_id"] for r in spark.read.parquet(out_cut).collect()
    }
    assert 2 not in packed_ids
    kept_ids = {d for d, v in verdicts.items() if v == "kept"}
    assert kept_ids == packed_ids  # audit reconciles against shards


def test_shard_write_is_idempotent(spark, tmp_path):
    """Round-5 verdict item 5: the shard writer run TWICE over the same
    input — once into a fresh dir, once overwriting its own previous
    output — must produce identical manifests, identical per-shard row
    contents, and a _SUCCESS readiness marker. Determinism across
    independent runs is exactly what task-retry safety reduces to under
    the commit protocol (a retried task is just an independent
    re-execution of its slice)."""
    import os

    from twitter_social_triangle_mapreduce_spark.operators.corpus import (
        shard_manifest,
        write_training_shards,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    from conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    write_training_shards(docs, a, budget=64, packs_per_shard=4)
    write_training_shards(docs, b, budget=64, packs_per_shard=4)
    # re-run over the SAME path (the documented job-level recovery)
    write_training_shards(docs, a, budget=64, packs_per_shard=4)
    assert os.path.exists(os.path.join(a, "_SUCCESS"))

    def manifest_rows(p):
        return sorted(map(tuple, shard_manifest(spark, p).collect()))

    def all_rows(p):
        return sorted(map(tuple, spark.read.parquet(p).collect()))

    ma, mb = manifest_rows(a), manifest_rows(b)
    assert ma == mb and len(ma) > 1
    assert all_rows(a) == all_rows(b)
    # offsets contiguous and gap-free across shards (the packed-layout
    # invariant a trainer checks before an epoch)
    prev_end = 0
    for _shard, _n, _tok, start, end in ma:
        assert start == prev_end
        prev_end = end


def test_capstone_cut_arm_releases_intermediate_persists(spark, tmp_path):
    """Round-6 ADVICE: the cut arm previously left the span persist
    cached with no handle returned — the only release was a global
    clearCache. Contract now: after prepare_training_corpus(...,
    cut_passages=True) returns, the ONLY cached relation is the
    returned (eagerly materialized) audit, and audit.unpersist()
    releases everything — a long-lived service calling the capstone
    repeatedly holds exactly one manifest-sized cache entry per live
    audit, zero after release."""
    from twitter_social_triangle_mapreduce_spark.operators.corpus import (
        prepare_training_corpus,
    )

    def n_cached() -> int:
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    spark.catalog.clearCache()
    assert n_cached() is True
    boiler = ("the quick brown fox of the meadow jumps over a lazy dog "
              "and runs to the river")
    rows = [
        (1, f"{boiler} in the morning of a bright day to rest and play"),
        (2, f"{boiler} at the evening of a quiet night to sleep and dream"),
        (3, "the cat sat on the mat and it was happy to be there all of "
            "the long day with a friend of the house"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = docs.where("doc_id < 0")
    audit = prepare_training_corpus(
        docs, ev, str(tmp_path / "cut"), cut_passages=True
    )
    assert n_cached() is False          # the audit itself is cached
    verdicts = sorted(map(tuple, audit.collect()))
    assert len(verdicts) == 3
    audit.unpersist()
    assert n_cached() is True, "intermediate persists leaked"


def test_pack_shuffled_tape_is_a_permutation(spark):
    """Seeded tape shuffle (round 6): shuffled packing must be a pure
    REORDERING of the same corpus — identical n_tokens multiset, same
    total token count, same set of occupied offsets (the tape has no
    holes), while the doc→offset assignment actually changes; a second
    run and a repartitioned input reproduce it bit-for-bit, and a
    different seed yields a different permutation."""
    rows = [(i, " ".join(["w"] * (1 + i % 9))) for i in range(200)]
    docs = _docs(spark, rows)
    plain = {r["doc_id"]: r for r in corpus.pack_sequences(docs).collect()}
    shuf = {
        r["doc_id"]: r
        for r in corpus.pack_sequences(docs, shuffle_seed="s1").collect()
    }
    assert set(shuf) == set(plain)
    # conservation: same per-doc token counts, and the shuffled
    # intervals [start, start+n) tile the same gap-free tape
    assert all(
        shuf[d]["n_tokens"] == plain[d]["n_tokens"] for d in plain
    )
    ivs = sorted(
        (r["start_off"], r["n_tokens"]) for r in shuf.values()
    )
    pos = 0
    for start, n in ivs:
        assert start == pos, (start, pos)
        pos += n
    assert pos == sum(r["n_tokens"] for r in plain.values())
    # the permutation is real: most docs moved
    moved = sum(
        1 for d in plain if shuf[d]["start_off"] != plain[d]["start_off"]
    )
    assert moved > 150
    # deterministic under a different input partitioning
    again = {
        r["doc_id"]: r["start_off"]
        for r in corpus.pack_sequences(
            docs.repartition(13), shuffle_seed="s1"
        ).collect()
    }
    assert again == {d: r["start_off"] for d, r in shuf.items()}
    # seed independence: another seed is another permutation
    other = {
        r["doc_id"]: r["start_off"]
        for r in corpus.pack_sequences(docs, shuffle_seed="s2").collect()
    }
    assert other != {d: r["start_off"] for d, r in shuf.items()}


def test_pack_shuffled_is_two_pass_on_hash_buckets(spark):
    """The shuffled tape must keep the two-pass shape: the only
    single-partition exchange feeds the tiny bucket-totals window, and
    the corpus-side rank window partitions on the md5-prefix bucket
    (never one global ordered window over the corpus)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    plan = (
        corpus.pack_sequences(docs, shuffle_seed="s1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("SinglePartition") == 1
    assert "hashpartitioning(__bucket" in plan
    assert plan.count("Window") == 2


@pytest.mark.parametrize("seed", [None, "s1"])
def test_pack_reuses_its_exchange_at_runtime(spark, seed):
    """Both prefix-sum levels consume ONE exchange of the count
    projection, so the corpus is scanned and tokenized once. Plan
    digests cannot see this: AQE decides reuse at runtime, from the
    canonical equality of the two exchange subtrees that the explicit
    ``isNotNull`` filter and the zero-valued ``retain`` term keep
    intact. The final plan of an executed ``pack_sequences`` must
    therefore carry a ``ReusedExchange``."""
    docs = load_table(spark, SF_SMOKE, "documents")
    packed = corpus.pack_sequences(docs, shuffle_seed=seed)
    # execute THIS DataFrame's own queryExecution so its adaptive plan
    # is the final one
    assert packed.collect()
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan[:4000]


def test_shard_write_shuffled_keeps_layout_invariants(spark, tmp_path):
    """The seeded-shuffle arm of the shard writer: the manifest must
    stay contiguous and gap-free (the trainer's epoch precondition —
    shuffling permutes WHICH doc owns an offset, never the tape
    structure), carry the same corpus totals as the unshuffled write,
    and reproduce bit-for-bit on a re-run with the same seed."""
    from twitter_social_triangle_mapreduce_spark.operators.corpus import (
        shard_manifest,
        write_training_shards,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    plain = str(tmp_path / "plain")
    s1 = str(tmp_path / "s1")
    s1b = str(tmp_path / "s1b")
    write_training_shards(docs, plain, budget=64, packs_per_shard=4)
    write_training_shards(
        docs, s1, budget=64, packs_per_shard=4, shuffle_seed="ep1"
    )
    write_training_shards(
        docs, s1b, budget=64, packs_per_shard=4, shuffle_seed="ep1"
    )

    def manifest_rows(p):
        return sorted(map(tuple, shard_manifest(spark, p).collect()))

    mp, ms = manifest_rows(plain), manifest_rows(s1)
    # same tape structure: totals and shard count match the plain arm
    assert sum(r[1] for r in ms) == sum(r[1] for r in mp)  # n_docs
    assert sum(r[2] for r in ms) == sum(r[2] for r in mp)  # n_tokens
    prev_end = 0
    for _shard, _n, _tok, start, end in ms:
        assert start == prev_end
        prev_end = end
    # determinism per seed
    assert ms == manifest_rows(s1b)
    assert sorted(map(tuple, spark.read.parquet(s1).collect())) == sorted(
        map(tuple, spark.read.parquet(s1b).collect())
    )
    # the shuffle moved documents across shards
    assign = {
        r["doc_id"]: r["shard"] for r in spark.read.parquet(s1).collect()
    }
    assign_plain = {
        r["doc_id"]: r["shard"]
        for r in spark.read.parquet(plain).collect()
    }
    assert assign != assign_plain


def test_prepare_training_corpus_semantic_arm(spark, tmp_path):
    """The semantic tier joined into the capstone: embedding-cosine
    duplicates drop as semantic_dup, the per-cell diversity quota
    drops as diversity_cut, docs without an embedding row pass both
    gates, each semantic verdict agrees with its stage operator run
    standalone, and the shard tree still holds exactly the kept
    docs."""
    from twitter_social_triangle_mapreduce_spark.operators.corpus import (
        prepare_training_corpus,
    )
    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        cluster_balanced_sample,
        semantic_dedup_clusters,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    ev = docs.where("doc_id % 17 = 0")
    out = str(tmp_path / "corpus_sem")
    audit = prepare_training_corpus(
        docs, ev, out, embeddings=emb, diversity_per_cell=40
    )
    verdicts = {r["doc_id"]: r["verdict"] for r in audit.collect()}
    assert len(verdicts) == docs.count()

    kept_ids = {d for d, v in verdicts.items() if v == "kept"}
    assert kept_ids
    shard_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert shard_ids == kept_ids

    sem = {
        r["vec_id"]: r["is_canonical"]
        for r in semantic_dedup_clusters(emb).collect()
    }
    div = {
        r["vec_id"]: r["keep"]
        for r in cluster_balanced_sample(emb, per_cell=40).collect()
    }
    n_sem = sum(1 for v in verdicts.values() if v == "semantic_dup")
    n_div = sum(1 for v in verdicts.values() if v == "diversity_cut")
    for d, v in verdicts.items():
        if v == "semantic_dup":
            assert sem[d] == 0, d
        elif v == "diversity_cut":
            assert sem.get(d, 1) == 1 and div[d] == 0, d
        elif v == "kept":
            # kept docs either lack an embedding row or pass both gates
            assert sem.get(d, 1) == 1 and div.get(d, 1) == 1, d
    # both semantic gates actually fired on this corpus
    assert n_div > 0, "diversity quota never bound (weak fixture)"
    audit.unpersist()


def test_capstone_semantic_bits_follow_corpus_size(
    spark, tmp_path, monkeypatch
):
    """Round-7 regression pin for the quadratic-bits bug the 1M probe
    caught live: the capstone must derive the semantic tier's LSH band
    width from the embeddings corpus via lsh_bits_for (the fixed
    default made the banded candidate set n²-shaped at 1M vectors —
    one stage, 44 tasks x ~1000 s), and semantic_bits= must override
    the rule."""
    import twitter_social_triangle_mapreduce_spark.operators.similarity as sim

    captured = {}
    orig = sim.semantic_dedup_clusters

    def spy(emb, *a, **kw):
        captured["bits"] = kw.get("bits")
        return orig(emb, *a, **kw)

    monkeypatch.setattr(sim, "semantic_dedup_clusters", spy)
    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    ev = docs.where("doc_id % 17 = 0")
    corpus.prepare_training_corpus(
        docs, ev, str(tmp_path / "s1"), embeddings=emb
    )
    assert captured["bits"] == sim.lsh_bits_for(emb.count())
    # at testdata scale the rule floors at the old constant — plans,
    # oracles, and bench digests stay bit-identical
    assert captured["bits"] == sim.LSH_BITS
    corpus.prepare_training_corpus(
        docs, ev, str(tmp_path / "s2"), embeddings=emb, semantic_bits=11
    )
    assert captured["bits"] == 11
