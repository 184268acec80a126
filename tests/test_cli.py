"""CLI surface (python -m bluegraph_spark / spark-submit shim) end-to-end.

Drives the same code paths a cluster job would: corpus parquet in, parquet
artifacts out, superstep checkpoints + resume across invocations.
"""

import json
import os

import pytest

from bluegraph_spark.__main__ import _checkpointer, build_parser, main
from bluegraph_spark.sources.synthetic import synthetic_repo_files
from tests.graph_fixtures import _jobs_run_by


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli") / "corpus")
    synthetic_repo_files(spark, n_files=60, vocab_size=80).write.parquet(path)
    return path


def _run(capsys, argv):
    assert main(argv) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _run_counting_jobs(spark, capsys, argv):
    """(``_run``'s result, the Spark jobs the command ran)."""
    return _jobs_run_by(spark, lambda: _run(capsys, argv))


def test_pipeline_command(spark, corpus_path, tmp_path, capsys):
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    res = _run(capsys, [
        "pipeline", "--corpus", corpus_path, "--output", out,
        "--checkpoint-dir", ck, "--factor-freq-cap", "50",
    ])
    assert res["sha256_mismatches"] == 0
    assert res["pagerank"]["converged"]
    for artifact in ("edges", "pagerank", "components", "lpa", "triangles"):
        assert os.path.exists(os.path.join(out, artifact, "_SUCCESS"))
    ranks = spark.read.parquet(f"{out}/pagerank")
    assert ranks.columns == ["id", "rank"]
    assert ranks.count() > 0
    # checkpoints were written per algorithm run
    assert os.path.isdir(os.path.join(ck, "run-pagerank"))


def test_pagerank_command_resume(spark, corpus_path, tmp_path, capsys):
    edges_out = str(tmp_path / "edges")
    _run(capsys, [
        "ingest", "--corpus", corpus_path, "--output", str(tmp_path / "occ"),
    ])
    _run(capsys, [
        "cooc", "--occurrences", str(tmp_path / "occ"),
        "--statistics", "frequency", "--output", edges_out,
    ])
    ck = str(tmp_path / "ck")
    first = _run(capsys, [
        "pagerank", "--edges", edges_out, "--output", str(tmp_path / "pr1"),
        "--checkpoint-dir", ck, "--max-iter", "3", "--tol", "0",
    ])
    assert first["iterations"] == 3
    resumed = _run(capsys, [
        "pagerank", "--edges", edges_out, "--output", str(tmp_path / "pr2"),
        "--checkpoint-dir", ck, "--max-iter", "5", "--tol", "0", "--resume",
    ])
    # continued from superstep 3, ran exactly 2 more
    assert resumed["iterations"] == 5
    r1 = spark.read.parquet(str(tmp_path / "pr1"))
    r2 = spark.read.parquet(str(tmp_path / "pr2"))
    assert r1.count() == r2.count()


def test_cooc_top_n_nodes(spark, corpus_path, tmp_path, capsys):
    _run(capsys, [
        "ingest", "--corpus", corpus_path, "--output", str(tmp_path / "occ"),
    ])
    _run(capsys, [
        "cooc", "--occurrences", str(tmp_path / "occ"),
        "--statistics", "frequency", "--top-n-nodes", "10",
        "--output", str(tmp_path / "edges"),
    ])
    edges = spark.read.parquet(str(tmp_path / "edges"))
    nodes = edges.select("src").union(edges.select("dst")).distinct().count()
    assert 0 < nodes <= 10


def test_dedup_command(spark, tmp_path, capsys):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different text entirely here now folks"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "docs")
    docs.write.parquet(path)
    # The job counts pin one run of each result plan: the reported row
    # count reads the written output back instead of re-running the plan.
    res, jobs = _run_counting_jobs(spark, capsys, [
        "dedup", "--docs", path, "--method", "exact",
        "--output", str(tmp_path / "exact"),
    ])
    assert res["rows"] == 2  # two distinct contents
    assert jobs == 6
    groups = spark.read.parquet(str(tmp_path / "exact"))
    dup = groups.filter("n_copies > 1").collect()
    assert len(dup) == 1 and dup[0].keep_id == 1

    res, jobs = _run_counting_jobs(spark, capsys, [
        "dedup", "--docs", path, "--method", "minhash",
        "--output", str(tmp_path / "mh"),
    ])
    assert jobs == 21
    pairs = {(r.id_a, r.id_b) for r in spark.read.parquet(str(tmp_path / "mh")).collect()}
    assert (1, 2) in pairs
    assert res["rows"] == len(pairs)

    res, jobs = _run_counting_jobs(spark, capsys, [
        "dedup", "--docs", path, "--method", "simhash",
        "--output", str(tmp_path / "sh"),
    ])
    assert jobs == 9
    pairs = {(r.id_a, r.id_b) for r in spark.read.parquet(str(tmp_path / "sh")).collect()}
    assert (1, 2) in pairs
    assert res["rows"] == len(pairs)


def test_triangles_command(spark, corpus_path, tmp_path, capsys):
    _run(capsys, [
        "ingest", "--corpus", corpus_path, "--output", str(tmp_path / "occ"),
    ])
    _run(capsys, [
        "cooc", "--occurrences", str(tmp_path / "occ"),
        "--statistics", "frequency", "--output", str(tmp_path / "edges"),
    ])
    _run(capsys, [
        "triangles", "--edges", str(tmp_path / "edges"),
        "--output", str(tmp_path / "tri"),
    ])
    tri = spark.read.parquet(str(tmp_path / "tri"))
    assert set(tri.columns) == {"id", "triangles"}
    assert tri.count() > 0


def test_ann_command(spark, tmp_path, capsys):
    import numpy as np

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(4, 8))
    rows = [
        (i, (centers[i % 4] + 0.1 * rng.normal(size=8)).astype("float32").tolist())
        for i in range(32)
    ]
    path = str(tmp_path / "emb")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(path)

    # job counts: one run of each result plan (see test_dedup_command)
    exact, jobs = _run_counting_jobs(spark, capsys, [
        "ann", "--corpus", path, "--method", "exact", "-k", "3",
        "--output", str(tmp_path / "exact"),
    ])
    assert exact["rows"] == 32 * 3
    assert jobs == 7
    lsh, jobs = _run_counting_jobs(spark, capsys, [
        "ann", "--corpus", path, "--method", "lsh", "-k", "3",
        "--output", str(tmp_path / "lsh"),
    ])
    assert lsh["rows"] == spark.read.parquet(str(tmp_path / "lsh")).count()
    assert jobs == 14
    ivf, jobs = _run_counting_jobs(spark, capsys, [
        "ann", "--corpus", path, "--method", "ivf", "-k", "3",
        "--centroids", "4", "--nprobe", "2",
        "--output", str(tmp_path / "ivf"),
    ])
    assert ivf["rows"] == 32 * 3
    assert jobs == 9
    got = spark.read.parquet(str(tmp_path / "ivf"))
    assert set(got.columns) == {"query_id", "neighbor_id", "cosine", "rank"}
    # clustered fixture: IVF at nprobe 2/4 recovers most exact neighbors
    e = {(r.query_id, r.neighbor_id) for r in spark.read.parquet(str(tmp_path / "exact")).collect()}
    a = {(r.query_id, r.neighbor_id) for r in got.collect()}
    assert len(e & a) / len(e) >= 0.8


def test_fastrp_kshortest_hierarchy_commands(spark, corpus_path, tmp_path, capsys):
    edges_out = str(tmp_path / "edges5")
    _run(capsys, [
        "ingest", "--corpus", corpus_path, "--output", str(tmp_path / "occ5"),
    ])
    _run(capsys, [
        "cooc", "--occurrences", str(tmp_path / "occ5"),
        "--statistics", "frequency", "--output", edges_out,
    ])
    r = _run(capsys, [
        "fastrp", "--edges", edges_out, "--weight-col", "frequency",
        "--dim", "4", "--weights", "1.0,0.5",
        "--output", str(tmp_path / "emb5"),
    ])
    assert r["dim"] == 4
    emb = spark.read.parquet(str(tmp_path / "emb5"))
    assert emb.columns == ["id", "emb"]
    assert emb.count() > 0

    src = spark.read.parquet(edges_out).first()["src"]
    r = _run(capsys, [
        "kshortest", "--edges", edges_out, "--weight-col", "frequency",
        "--source", src, "--k", "2",
        "--output", str(tmp_path / "ks5"),
    ])
    assert r["converged"]
    ks = spark.read.parquet(str(tmp_path / "ks5"))
    assert set(ks.columns) == {"id", "rank", "dist"}

    r = _run(capsys, [
        "hierarchy", "--edges", edges_out, "--weight-col", "frequency",
        "--n-clusters", "3", "--output", str(tmp_path / "h5"),
    ])
    assert r["n_clusters"] == 3
    labels = spark.read.parquet(str(tmp_path / "h5"))
    assert labels.select("cluster").distinct().count() == 3


def test_walks_command(spark, corpus_path, tmp_path, capsys):
    edges_out = str(tmp_path / "edges6")
    _run(capsys, [
        "ingest", "--corpus", corpus_path, "--output", str(tmp_path / "occ6"),
    ])
    _run(capsys, [
        "cooc", "--occurrences", str(tmp_path / "occ6"),
        "--statistics", "frequency", "--output", edges_out,
    ])
    r = _run(capsys, [
        "walks", "--edges", edges_out, "--weight-col", "frequency",
        "--walk-length", "3", "--walks-per-node", "2",
        "--output", str(tmp_path / "wk6"),
    ])
    assert r["walk_length"] == 3
    wk = spark.read.parquet(str(tmp_path / "wk6"))
    assert set(wk.columns) == {"walk_id", "step", "node"}
    n_nodes = spark.read.parquet(edges_out).select("src").union(
        spark.read.parquet(edges_out).select("dst")).distinct().count()
    # every (node, replica) has a step-0 row
    assert wk.filter("step = 0").count() == 2 * n_nodes


_UNREAD = {  # options no run of the subcommand reads: the parser rejects them
    "triangles": ["--weight-col", "--checkpoint-dir", "--run-id", "--resume",
                  "--directed"],
    "mst": ["--checkpoint-dir", "--run-id", "--resume", "--directed"],
    "hierarchy": ["--checkpoint-dir", "--run-id", "--resume", "--directed"],
    "fastrp": ["--checkpoint-dir", "--run-id", "--resume"],
    "walks": ["--checkpoint-dir", "--run-id", "--resume"],
    "components": ["--weight-col", "--directed"],
    "louvain": ["--resume", "--directed"],
    "lpa": ["--directed"],
}
_CASES = [
    (cmd, [flag] if flag in ("--resume", "--directed") else [flag, "x"])
    for cmd, flags in _UNREAD.items() for flag in flags
] + [("pagerank", ["--resume"])]  # resume needs a --checkpoint-dir


@pytest.mark.parametrize(
    "cmd,extra", _CASES, ids=[f"{c}{e[0]}" for c, e in _CASES]
)
def test_parser_rejects_options_no_run_reads(cmd, extra):
    """Parser only, no Spark session: the base command parses, and adding
    the option is a usage error (exit 2) instead of a silent no-op."""
    base = [cmd, "--edges", "e", "--output", "o"]
    build_parser().parse_args(base)
    with pytest.raises(SystemExit) as exc:
        build_parser().parse_args(base + extra)
    assert exc.value.code == 2


def test_parser_rejects_csv_fmt():
    """``--fmt`` takes the formats a checkpoint reads back typed; a csv
    checkpoint could not resume."""
    base = ["pagerank", "--edges", "e", "--output", "o"]
    build_parser().parse_args(base + ["--fmt", "iceberg"])
    with pytest.raises(SystemExit) as exc:
        build_parser().parse_args(base + ["--fmt", "csv"])
    assert exc.value.code == 2


def test_checkpointer_follows_fmt(tmp_path):
    """Builds the checkpointer only: no Spark session, nothing written."""
    args = build_parser().parse_args([
        "pagerank", "--edges", "e", "--output", "o", "--fmt", "iceberg",
        "--checkpoint-dir", str(tmp_path), "--run-id", "r",
    ])
    ckpt = _checkpointer(args, "-pagerank")
    assert ckpt.data_format == "iceberg"
    assert ckpt.base == os.path.join(str(tmp_path), "r-pagerank")
