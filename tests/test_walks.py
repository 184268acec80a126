"""Random-walk corpus generator tests: pure-Python differential oracle,
partitioning invariance, dead-end and replica semantics, distributional
sanity of the hash-interval transition."""

from __future__ import annotations

import hashlib

import pytest

from bluegraph_spark.operators.walks import HASH_HEX_DIGITS, generate_random_walks


def _py_walks(edges, L, R, seed, directed=False):
    adj: dict = {}
    for s, t, w in edges:
        adj.setdefault(s, []).append((t, w))
        if not directed and s != t:
            adj.setdefault(t, []).append((s, w))
    adj2 = {}
    for u, lst in adj.items():
        agg: dict = {}
        for v, w in lst:
            agg[v] = agg.get(v, 0.0) + w
        adj2[u] = sorted(agg.items())
    nodes = sorted({n for e in edges for n in e[:2]})
    out = []
    for n in nodes:
        for r in range(R):
            wid = f"{n}:{r}"
            cur = n
            out.append((wid, 0, cur))
            for t in range(1, L + 1):
                if cur not in adj2:
                    break
                h = int(
                    hashlib.md5(f"{seed}:{wid}:{t}".encode()).hexdigest()[
                        :HASH_HEX_DIGITS
                    ],
                    16,
                )
                nb = adj2[cur]
                totw = sum(w for _, w in nb)
                thr = h * totw / float(1 << (4 * HASH_HEX_DIGITS))
                cum, nxt = 0.0, None
                for v, w in nb:
                    if cum <= thr < cum + w:
                        nxt = v
                        break
                    cum += w
                if nxt is None:
                    break
                cur = nxt
                out.append((wid, t, cur))
    return sorted(out)


@pytest.fixture(scope="module")
def walk_graph(spark):
    rows = [
        ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 3.0),
        ("c", "d", 1.0), ("d", "a", 1.0), ("e", "a", 4.0),
    ]
    return spark.createDataFrame(rows, "src string, dst string, w double"), rows


def test_walks_match_pure_python(walk_graph):
    df, rows = walk_graph
    got = sorted(
        map(
            tuple,
            generate_random_walks(
                df, walk_length=7, walks_per_node=3, weight_col="w", seed=9
            ).collect(),
        )
    )
    assert got == _py_walks(rows, 7, 3, 9)


def test_walks_partitioning_invariant(spark, walk_graph):
    df, rows = walk_graph
    # the neighbor table takes its width from the input's session
    s3 = spark.newSession()
    s3.conf.set("spark.sql.shuffle.partitions", "3")
    df3 = s3.createDataFrame(rows, df.schema)
    a = sorted(
        map(
            tuple,
            generate_random_walks(
                df, walk_length=5, weight_col="w", seed=3
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            generate_random_walks(
                df3.repartition(7), walk_length=5, weight_col="w", seed=3
            ).collect(),
        )
    )
    assert a == b


def test_walks_dead_end_stops(spark):
    df = spark.createDataFrame(
        [("a", "b", 1.0)], "src string, dst string, w double"
    )
    out = generate_random_walks(
        df, walk_length=4, weight_col="w", seed=1, directed=True
    ).collect()
    by_walk: dict = {}
    for r in out:
        by_walk.setdefault(r.walk_id, []).append((r.step, r.node))
    # a walks a->b then stops at the sink; b never leaves step 0
    assert sorted(by_walk["a:0"]) == [(0, "a"), (1, "b")]
    assert sorted(by_walk["b:0"]) == [(0, "b")]


def test_walks_transition_distribution(spark):
    """Over many replicas, the hash-interval transition approximates the
    weighted distribution: from 'a' with weights b:9, c:1 the first step
    should land on b ~90% of the time."""
    df = spark.createDataFrame(
        [("a", "b", 9.0), ("a", "c", 1.0)], "src string, dst string, w double"
    )
    out = generate_random_walks(
        df, walk_length=1, walks_per_node=400, weight_col="w",
        seed=7, directed=True,
    )
    firsts = [
        r.node
        for r in out.collect()
        if r.step == 1 and r.walk_id.startswith("a:")
    ]
    assert len(firsts) == 400
    frac_b = firsts.count("b") / 400
    assert 0.85 <= frac_b <= 0.95


def test_walks_validation(walk_graph):
    df, _ = walk_graph
    with pytest.raises(ValueError):
        generate_random_walks(df, walk_length=0)
    with pytest.raises(ValueError):
        generate_random_walks(df, walks_per_node=0)
