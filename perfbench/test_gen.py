"""Seed determinism of the benchmark's input generators.

Run with ``python3 -m pytest perfbench/test_gen.py -q``.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

SMALL = {
    "corpus": {"files": 30, "vocab": 500},
    "digraph": {"vertices": 100, "edges": 1000},
}


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_same_seed_same_digest(kind):
    make = gen.KINDS[kind]
    assert gen.digest(make(7, **SMALL[kind])) == gen.digest(make(7, **SMALL[kind]))


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_other_seed_other_digest(kind):
    make = gen.KINDS[kind]
    assert gen.digest(make(7, **SMALL[kind])) != gen.digest(make(8, **SMALL[kind]))


def test_ensure_caches_and_reports_the_digest(tmp_path):
    first = gen.ensure(str(tmp_path), "digraph", 3, 2, **SMALL["digraph"])
    again = gen.ensure(str(tmp_path), "digraph", 3, 2, **SMALL["digraph"])
    assert first == again
    assert first[1] == gen.digest(gen.digraph_tables(3, **SMALL["digraph"]))
    assert len(os.listdir(os.path.join(first[0], "edges.parquet"))) == 2


def test_corpus_follows_the_f1_schema():
    t = gen.corpus_tables(1, **SMALL["corpus"])["repo_files"]
    assert t.column_names == ["repo", "path", "commit", "lang", "content"]
    lengths = [len(c.split()) for c in t.column("content").to_pylist()]
    assert min(lengths) >= 20 and max(lengths) <= 200
    assert len(set(zip(t.column("repo").to_pylist(), t.column("path").to_pylist()))) == 30
