"""Seeded input generators for the benchmark, with an on-disk cache.

Two input sets, each a pure function of ``(seed, size)``:

- ``corpus``: the FIXTURES F1 ``repo_files`` table ``(repo, path, commit,
  lang, content)``; token ranks drawn from a bounded Zipf(1.1) over a
  vocabulary of ``vocab`` tokens, 20-200 tokens per file.
- ``digraph``: a uniform directed graph ``(src long, dst long, w double)``
  with weights in (0.1, 1].

Each set is generated once per (seed, size) under ``<cache>/inputs`` and
reused; ``ensure`` returns its directory and a content digest (sha256 over
the Arrow IPC serialization of every table), so equal seeds give equal
digests.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("py", "js", "java", "c", "go")


def _zipf_ranks(rng: np.random.Generator, n: int, vocab: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** s
    cdf = np.cumsum(p / p.sum())
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), vocab - 1)


def corpus_tables(seed: int, files: int, vocab: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_tok = rng.integers(20, 201, size=files)
    ranks = _zipf_ranks(rng, int(n_tok.sum()), vocab)
    bounds = np.concatenate([[0], np.cumsum(n_tok)])
    names = np.array([f"t{r}" for r in range(vocab)], dtype=object)
    lang_p = 1.0 / np.arange(1, len(LANGS) + 1) ** 1.1
    lang = rng.choice(len(LANGS), size=files, p=lang_p / lang_p.sum())
    repos, paths, commits, langs, contents = [], [], [], [], []
    for i in range(files):
        repo = f"org{(i // 20) // 50}/repo{(i // 20) % 50}"
        path = f"src/m{i % 7}/f{i}.{LANGS[lang[i]]}"
        repos.append(repo)
        paths.append(path)
        commits.append(hashlib.sha1(f"{repo}/{path}".encode()).hexdigest())
        langs.append(LANGS[lang[i]])
        contents.append(" ".join(names[ranks[bounds[i]:bounds[i + 1]]]))
    return {
        "repo_files": pa.table(
            {"repo": repos, "path": paths, "commit": commits, "lang": langs,
             "content": contents}
        )
    }


def digraph_tables(seed: int, vertices: int, edges: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    return {
        "edges": pa.table({
            "src": rng.integers(0, vertices, size=edges, dtype=np.int64),
            "dst": rng.integers(0, vertices, size=edges, dtype=np.int64),
            "w": np.round(rng.uniform(0.1, 1.0, size=edges), 6),
        })
    }


KINDS = {"corpus": corpus_tables, "digraph": digraph_tables}


def digest(tables: dict[str, pa.Table]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def ensure(cache: str, kind: str, seed: int, files_per_table: int = 1, **size) -> tuple[str, str]:
    """Generate (once) the ``kind`` input for ``seed``; return (dir, digest).

    Each table is written as ``<dir>/<table>.parquet``: a single file, or a
    directory of ``files_per_table`` parts so a scan has that many splits.
    """
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(cache, "inputs", f"{kind}-s{seed}-{tag}")
    marker = os.path.join(out, "DIGEST")
    if os.path.exists(marker):
        with open(marker) as f:
            return out, f.read().strip()
    tables = KINDS[kind](seed, **size)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables.items():
        if files_per_table == 1:
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
            continue
        os.makedirs(os.path.join(tmp, f"{name}.parquet"))
        step = -(-table.num_rows // files_per_table)
        for i in range(files_per_table):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(tmp, f"{name}.parquet", f"part-{i}.parquet"))
    d = digest(tables)
    with open(os.path.join(tmp, "DIGEST"), "w") as f:
        f.write(d)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, d
