"""End-to-end CLI parity: the reference's program surface (CSV in, TSV +
printed scalar out) driven through ``cli.run_program`` on a synthetic
edges.csv, cross-checked against DuckDB over the same file."""

from __future__ import annotations

import glob
import os
import random
import subprocess
import sys

import duckdb
import pytest

from twitter_social_triangle_mapreduce_spark.cli import run_program
from twitter_social_triangle_mapreduce_spark.sources.io import (
    load_table,
    read_edges_csv,
    read_json_table,
    write_json,
    write_tsv,
)


@pytest.fixture(scope="module")
def edges_csv_dir(tmp_path_factory):
    """A reference-format edges.csv with duplicates, self-loops, and ids
    straddling the 40000/50000 cutoffs."""
    d = tmp_path_factory.mktemp("edges_in")
    rng = random.Random(7)
    rows = []
    for _ in range(4000):
        rows.append((rng.randrange(60000), rng.randrange(60000)))
    rows += rows[:200]  # duplicates
    rows += [(i, i) for i in range(0, 60000, 7919)]  # self-loops
    rows += [(39999, 40000), (40000, 39999), (40000, 50000), (50000, 40000)]
    (d / "edges.csv").write_text(
        "\n".join(f"{a},{b}" for a, b in rows) + "\n"
    )
    return str(d)


def _duck_triangles(csv_path: str, max_id: int, strict: bool, dedup_closing: bool):
    con = duckdb.connect()
    cmp_op = "<" if strict else "<="
    probe = "edges" if not strict else "f"
    closing_src = "fd" if dedup_closing else "f"
    q = f"""
        WITH edges AS (
            SELECT column0 AS src, column1 AS dst
            FROM read_csv('{csv_path}', header=false, columns={{'column0':'BIGINT','column1':'BIGINT'}})
        ),
        f AS (SELECT * FROM edges WHERE src {cmp_op} {max_id} AND dst {cmp_op} {max_id}),
        fd AS (SELECT DISTINCT src, dst FROM f)
        SELECT COUNT(*) // 3 FROM {probe} e1
        JOIN f e2 ON e1.dst = e2.src {"AND e1.src <> e2.dst" if strict else ""}
        JOIN {closing_src} e3 ON e3.src = e2.dst AND e3.dst = e1.src
    """
    return con.execute(q).fetchone()[0]


def test_cli_social_triangle_rs(spark, edges_csv_dir, tmp_path):
    got = run_program(
        spark, "social_triangle_rs", edges_csv_dir, str(tmp_path / "out1")
    )
    want = _duck_triangles(
        f"{edges_csv_dir}/edges.csv", 50000, strict=True, dedup_closing=False
    )
    assert got == want


def test_ordered_strategy_at_reference_constants(spark, edges_csv_dir):
    """The degree-ordered strategy must agree with DuckDB at the
    reference's own MAX=50000 on the raw CSV fixture (dups, self-loops,
    boundary ids included)."""
    from twitter_social_triangle_mapreduce_spark.operators import graph

    e = read_edges_csv(spark, f"{edges_csv_dir}/*.csv")
    got = graph.triangle_count(e, max_id=50000, strategy="ordered").collect()[
        0
    ][0]
    want = _duck_triangles(
        f"{edges_csv_dir}/edges.csv", 50000, strict=True, dedup_closing=False
    )
    assert got == want


def test_cli_triangle_replicated(spark, edges_csv_dir, tmp_path):
    got = run_program(
        spark, "triangle_replicated", edges_csv_dir, str(tmp_path / "out2")
    )
    want = _duck_triangles(
        f"{edges_csv_dir}/edges.csv", 40000, strict=False, dedup_closing=True
    )
    assert got == want


def test_cli_exact_cardinality_writes_tsv(spark, edges_csv_dir, tmp_path):
    out = str(tmp_path / "out3")
    got = run_program(spark, "exact_cardinality", edges_csv_dir, out)
    con = duckdb.connect()
    want = con.execute(
        f"""
        WITH edges AS (
            SELECT column0 AS src, column1 AS dst
            FROM read_csv('{edges_csv_dir}/edges.csv', header=false,
                          columns={{'column0':'BIGINT','column1':'BIGINT'}})
        ),
        outs AS (SELECT src AS node, COUNT(*) AS n FROM edges GROUP BY src),
        ins AS (SELECT dst AS node, COUNT(*) AS m FROM edges GROUP BY dst)
        SELECT COALESCE(SUM(m * n), 0) FROM ins JOIN outs USING (node)
        """
    ).fetchone()[0]
    assert got == want
    # TSV sink: node \t paths lines, reloadable
    files = glob.glob(f"{out}/part-*")
    assert files, "no TSV part files written"
    line = next(
        ln for f in files for ln in open(f).read().splitlines() if ln
    )
    assert len(line.split("\t")) == 2


def test_cli_success_prints_no_java_stack_trace(tmp_path):
    """A cold ``python -m`` run of a reference program that succeeds
    leaves no Java stack trace on stderr (the ``<input-dir>/*.csv`` read
    used to log one from Spark's streaming-metadata probe of the glob)."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "edges.csv").write_text("1,2\n2,3\n3,1\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "twitter_social_triangle_mapreduce_spark",
            "exact_cardinality",
            str(d),
            str(tmp_path / "out"),
        ],
        cwd=repo,  # ``-m`` puts the working directory on sys.path
        env=dict(os.environ, SPARK_DRIVER_MEMORY="1g"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "COUNT:3" in proc.stdout
    assert "\tat " not in proc.stderr, proc.stderr[-3000:]


def test_csv_reader_failfast_on_malformed(spark, tmp_path):
    """Reference semantics §2.7.6: malformed input crashes, it is not
    silently skipped (Integer.parseInt throws in every mapper)."""
    d = tmp_path / "bad"
    d.mkdir()
    (d / "edges.csv").write_text("1,2\nnot-a-number,3\n")
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        read_edges_csv(spark, str(d / "*.csv")).collect()


def test_write_tsv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, 10), (2, 20)], "node long, paths long")
    out = str(tmp_path / "tsv")
    write_tsv(df, out)
    back = (
        spark.read.option("sep", "\t")
        .schema("node long, paths long")
        .csv(out)
    )
    assert sorted(tuple(r) for r in back.collect()) == [(1, 10), (2, 20)]


def test_json_sink_source_roundtrip(spark, tmp_path):
    """write_json → read_json_table must be lossless on a real table
    (events at sf0.001, timestamp dropped: JSON-lines carries no native
    timestamp type — the ns column is interchange-serialized upstream)."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events").drop("ts")
    out = str(tmp_path / "events_json")
    write_json(ev, out)
    back = read_json_table(spark, out, ev.schema)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, ev.collect())
    )


def test_json_reader_failfast_on_corrupt_line(spark, tmp_path):
    d = tmp_path / "badjson"
    d.mkdir()
    (d / "part-0.json").write_text('{"a": 1}\n{"a": not-json}\n')
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        read_json_table(spark, str(d), "a long").collect()


def test_cli_approx_cardinality_filter_binds(spark, tmp_path):
    """The 4th reference program end-to-end through the CLI: ids
    straddling the 7,812,500 cutoff so the strict < filter actually
    discards edges (ApproxCardinality.java:24 — both endpoints)."""
    d = tmp_path / "approx_in"
    d.mkdir()
    big = 7_812_500
    rows = [
        (1, 2), (2, 3), (2, 4),              # small ids: kept
        (big - 1, 2), (big, 2), (big + 5, 2),  # at/above cutoff: dropped
        (2, big), (5, big - 1),
    ]
    (d / "edges.csv").write_text("\n".join(f"{a},{b}" for a, b in rows) + "\n")
    out = str(tmp_path / "approx_out")
    got = run_program(spark, "approx_cardinality", str(d), out)
    con = duckdb.connect()
    want = con.execute(
        f"""
        WITH edges AS (
            SELECT column0 AS src, column1 AS dst
            FROM read_csv('{d}/edges.csv', header=false,
                          columns={{'column0':'BIGINT','column1':'BIGINT'}})
        ),
        f AS (SELECT * FROM edges WHERE src < {big} AND dst < {big}),
        outs AS (SELECT src AS node, COUNT(*) AS n FROM f GROUP BY src),
        ins AS (SELECT dst AS node, COUNT(*) AS m FROM f GROUP BY dst)
        SELECT COALESCE(SUM(m * n), 0) FROM ins JOIN outs USING (node)
        """
    ).fetchone()[0]
    assert got == want
    # sanity: the cutoff really binds on this fixture (unfiltered differs)
    unfiltered = con.execute(
        f"""
        WITH edges AS (
            SELECT column0 AS src, column1 AS dst
            FROM read_csv('{d}/edges.csv', header=false,
                          columns={{'column0':'BIGINT','column1':'BIGINT'}})
        ),
        outs AS (SELECT src AS node, COUNT(*) AS n FROM edges GROUP BY src),
        ins AS (SELECT dst AS node, COUNT(*) AS m FROM edges GROUP BY dst)
        SELECT COALESCE(SUM(m * n), 0) FROM ins JOIN outs USING (node)
        """
    ).fetchone()[0]
    assert unfiltered != want


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """50 tiny files → a handful of right-sized ones, data unchanged."""
    from twitter_social_triangle_mapreduce_spark.sources.io import (
        compact_parquet,
    )

    src = str(tmp_path / "tiny")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").drop("ts")
    ev.repartition(50).write.parquet(src)
    n_src = len(glob.glob(f"{src}/part-*"))
    assert n_src == 50

    dst = str(tmp_path / "compact")
    n = compact_parquet(spark, src, dst, target_file_mb=256)
    n_dst = len(glob.glob(f"{dst}/part-*"))
    assert n == 1 and n_dst == 1  # 1000 rows ≪ 256 MB
    back = spark.read.parquet(dst)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, ev.collect())
    )


def test_cli_prepare_corpus_writes_shards_and_audit(spark, tmp_path, capsys):
    """prepare_corpus subcommand: shards + audit land on disk, the
    verdict histogram covers every document, and the printed lines
    match the audit contents."""
    from twitter_social_triangle_mapreduce_spark.cli import run_prepare_corpus
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    from conftest import SF_SMOKE

    out = str(tmp_path / "corpus_out")
    hist = run_prepare_corpus(spark, SF_SMOKE, out)
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(hist.values()) == n_docs
    assert hist.get("kept", 0) > 0
    audit = spark.read.parquet(f"{out}/audit")
    assert audit.count() == n_docs
    shard_rows = spark.read.parquet(f"{out}/shards")
    kept = audit.where("verdict = 'kept'").count()
    assert shard_rows.count() == kept
    printed = capsys.readouterr().out
    for verdict, n in hist.items():
        assert f"{verdict}\t{n}" in printed


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC sink/source (write_orc/read_orc_table): values roundtrip
    exactly and a predicate reaches the ORC scan as a pushed filter —
    the same columnar contract the parquet path is tested for."""
    from twitter_social_triangle_mapreduce_spark.sources.io import (
        load_table,
        read_orc_table,
        write_orc,
    )

    from conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "docs_orc")
    write_orc(docs, path)
    back = read_orc_table(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, docs.collect())
    )
    plan = (
        back.where("doc_id < 100")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "OrcScan" in plan or "Format: ORC" in plan or "orc" in plan.lower()
    assert "PushedFilters: [" in plan and "doc_id" in plan.split(
        "PushedFilters"
    )[1][:120]


def test_shard_manifest_offsets_are_contiguous(spark, tmp_path):
    """shard_manifest: per-shard totals agree with the input corpus and
    the tape offsets are gap-free across shards (the packed-layout
    invariant a data loader checks)."""
    from twitter_social_triangle_mapreduce_spark.operators.corpus import (
        shard_manifest,
        write_training_shards,
    )
    from twitter_social_triangle_mapreduce_spark.sources.io import load_table

    from conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    path = str(tmp_path / "shards")
    write_training_shards(docs, path)
    man = shard_manifest(spark, path).collect()
    assert sum(r["n_docs"] for r in man) == docs.count()
    total_tokens = docs.selectExpr(
        "sum(size(split(text, ' '))) AS t"
    ).collect()[0]["t"]
    assert sum(r["n_tokens"] for r in man) == total_tokens
    # offsets contiguous: each shard starts where the previous ended
    man_sorted = sorted(man, key=lambda r: r["shard"])
    assert man_sorted[0]["start_off"] == 0
    for a, b in zip(man_sorted, man_sorted[1:]):
        assert b["start_off"] == a["end_off"]
    assert man_sorted[-1]["end_off"] == total_tokens


@pytest.mark.slow  # round-13 gate diet: probe-as-test
def test_cli_maintain_actions(
    spark, tmp_path, capsys, fresh_semantic_store
):
    """maintain subcommand (round 9): the between-folds maintenance
    jobs run as a program — a compaction prints its generation id and
    a re-run NOOPs, the re-band prints the new width and the served
    state follows, and the quantizer-drift audit prints its row.
    Drives run_maintain directly (same body main() dispatches to)."""
    from twitter_social_triangle_mapreduce_spark.cli import run_maintain
    from twitter_social_triangle_mapreduce_spark.operators.similarity import (
        codebook_df,
    )
    from twitter_social_triangle_mapreduce_spark.streaming import (
        fold_ann_index_batch,
        fold_semantic_batch,
        read_semantic_snapshot,
    )

    def emb(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    # semantic snapshot (shared template copy): compact -> reband
    snap = fresh_semantic_store
    run_maintain(spark, snap, "compact_semantic_embs")
    out = capsys.readouterr().out
    assert "GENERATION:\t0" in out
    run_maintain(spark, snap, "compact_semantic_embs")
    assert "NOOP" in capsys.readouterr().out  # single safe source
    run_maintain(spark, snap, "reband_semantic", bits=9)
    assert "REBANDED_BITS:\t9" in capsys.readouterr().out
    assert read_semantic_snapshot(spark, snap).count() == 6
    # quantized ANN snapshot: fold -> audit row
    cents = [(c, [10.0 * (c == d) for d in range(8)]) for c in range(2)]
    qsnap = str(tmp_path / "qann")
    fold_ann_index_batch(
        emb([(i, [2.0 * (i % 2), 1.0] + [0.0] * 6) for i in range(6)]),
        0,
        qsnap,
        centroids=codebook_df(spark, cents),
        quantize=True,
    )
    run_maintain(spark, qsnap, "ann_scale_headroom")
    out = capsys.readouterr().out
    assert "pinned_scale\t2.0" in out
    assert "n_clamped_batches\t0" in out
    # unknown action is rejected by main()'s dispatch
    import pytest as _pytest

    from twitter_social_triangle_mapreduce_spark import cli

    with _pytest.raises(SystemExit, match="unknown maintain action"):
        cli.main(["maintain", snap, "not_an_action"])


@pytest.mark.slow  # round-13 gate diet: probe-as-test
def test_cli_maintain_reband_with_codebook(spark, tmp_path, capsys):
    """maintain reband_semantic --codebook: a store folded with a
    TRAINED quantizer must be re-banded with the same one — the CLI
    loads it from the published save_codebook path and the re-banded
    state equals the batch recompute under those centroids at the new
    width (a stand-in recompute would land vectors in different cells
    and silently miss collisions)."""
    from twitter_social_triangle_mapreduce_spark.cli import run_maintain
    from twitter_social_triangle_mapreduce_spark.operators import similarity
    from twitter_social_triangle_mapreduce_spark.streaming import (
        fold_semantic_batch,
        read_semantic_snapshot,
    )

    a = [1.0, 0.2, 0.0, 0.0, 0.1, 0.0, 0.0, 0.0]
    b = [0.0, 0.0, 1.0, 0.3, 0.0, 0.1, 0.0, 0.0]
    cents = [(0, a), (1, b)]
    cb_path = str(tmp_path / "codebook")
    similarity.save_codebook(spark, cents, cb_path)
    cb = similarity.load_codebook(spark, cb_path)

    def emb(rows):
        return spark.createDataFrame(
            [(v, [float(x) for x in e]) for v, e in rows],
            "vec_id long, embedding array<float>",
        )

    snap = str(tmp_path / "sem")
    rows = [(0, a), (1, a), (2, b), (3, b)]
    fold_semantic_batch(emb(rows[:2]), 0, snap, centroids=cb, dims=8)
    fold_semantic_batch(emb(rows[2:]), 1, snap, centroids=cb, dims=8)
    # through the REAL argparse wiring, not run_maintain directly — a
    # dropped codebook=args.codebook pass-through must fail this test
    from twitter_social_triangle_mapreduce_spark import cli

    cli.main(
        [
            "maintain",
            snap,
            "reband_semantic",
            "--bits=9",
            f"--codebook={cb_path}",
        ]
    )
    assert "REBANDED_BITS:\t9" in capsys.readouterr().out
    got = sorted(map(tuple, read_semantic_snapshot(spark, snap).collect()))
    want = sorted(
        map(
            tuple,
            similarity.semantic_dedup_clusters(
                emb(rows), centroids=cb, dims=8, bits=9
            ).collect(),
        )
    )
    assert got == want
