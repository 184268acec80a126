"""PGFrame IO round-trips + point lookups + batch metric driver
(reference parity: core/io.py:529-548, 1037-1067, 1254-1311;
core/analyse/metrics.py:66-96)."""

import pytest
from pyspark.sql import functions as F

from bluegraph_spark.operators.metrics import compute_all_node_metrics
from bluegraph_spark.pgframe import SparkPGFrame

from .graph_fixtures import karate, nx_to_edges_df, pagerank_oracle


@pytest.fixture()
def small_pg(spark):
    nodes = spark.createDataFrame(
        [("a", 1.0, ["X"]), ("b", 2.0, ["X", "Y"]), ("c", 3.0, ["Y"])],
        "id string, score double, type array<string>",
    )
    edges = spark.createDataFrame(
        [("a", "b", 0.5), ("b", "c", 1.5)], "src string, dst string, mi double"
    )
    return SparkPGFrame(nodes, edges)


def test_json_roundtrip(spark, small_pg):
    payload = small_pg.to_json()
    assert len(payload["nodes"]) == 3 and len(payload["edges"]) == 2
    back = SparkPGFrame.from_json(spark, payload)
    assert back.number_of_nodes() == 3
    assert back.number_of_edges() == 2
    assert back.get_node("b")["score"] == 2.0
    assert sorted(back.get_node("b")["type"]) == ["X", "Y"]


def test_json_file_roundtrip(spark, small_pg, tmp_path):
    path = str(tmp_path / "g.json")
    small_pg.export_json(path)
    back = SparkPGFrame.load_json(spark, path)
    assert back.get_edge("a", "b")["mi"] == 0.5
    # undirected lookup works in either orientation
    assert back.get_edge("b", "a")["mi"] == 0.5


def test_csv_roundtrip(spark, small_pg, tmp_path):
    np, ep = str(tmp_path / "nodes"), str(tmp_path / "edges")
    small_pg.to_csv(np, ep)
    back = SparkPGFrame.from_csv(spark, np, ep, array_props=("type",))
    assert back.number_of_nodes() == 3
    assert back.get_node_property_values("score") == {"a": 1.0, "b": 2.0, "c": 3.0}
    assert sorted(back.get_node("b")["type"]) == ["X", "Y"]
    assert back.get_edge_property_values("mi")[("a", "b")] == 0.5


def test_json_reference_shape(spark, small_pg):
    """Export keys match the reference (core/io.py:1254-1283): @id /
    @source_id / @target_id / @type plus property-type maps, nulls dropped."""
    payload = small_pg.to_json()
    assert {"@id", "score", "@type"} == set(payload["nodes"][0].keys())
    assert {"@source_id", "@target_id", "mi"} == set(payload["edges"][0].keys())
    assert payload["node_property_types"] == {"score": "numeric", "@type": "category"}
    assert payload["edge_property_types"] == {"mi": "numeric"}
    back = SparkPGFrame.from_json(spark, payload)
    assert back.get_node("b")["score"] == 2.0
    assert back.is_numeric_node_prop("score") and back.is_categorical_node_prop("type")


def test_json_nulls_dropped_and_restored(spark):
    nodes = spark.createDataFrame(
        [("a", 1.0), ("b", None)], "id string, score double"
    )
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    pg = SparkPGFrame(nodes, edges)
    payload = pg.to_json()
    b_row = next(r for r in payload["nodes"] if r["@id"] == "b")
    assert "score" not in b_row  # reference r.dropna() semantics
    back = SparkPGFrame.from_json(spark, payload)
    assert back.get_node("b")["score"] is None


def test_json_array_prop_with_missing_cells(spark):
    """A null array cell is dropped on export (reference dropna) and must
    come back as a null array — mixed list/None object columns round-trip."""
    nodes = spark.createDataFrame(
        [("a", ["X", "Y"]), ("b", None)], "id string, type array<string>"
    )
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    payload = SparkPGFrame(nodes, edges).to_json()
    assert "@type" not in next(r for r in payload["nodes"] if r["@id"] == "b")
    back = SparkPGFrame.from_json(spark, payload)
    assert sorted(back.get_node("a")["type"]) == ["X", "Y"]
    assert back.get_node("b")["type"] is None


def test_json_empty_frames(spark):
    pg = SparkPGFrame(
        spark.createDataFrame([], "id string"),
        spark.createDataFrame([], "src string, dst string"),
    )
    back = SparkPGFrame.from_json(spark, pg.to_json())
    assert back.number_of_nodes() == 0 and back.number_of_edges() == 0


def test_prop_type_surface(spark, small_pg):
    # defaults: numeric column -> numeric, array -> category
    assert small_pg.is_numeric_node_prop("score")
    assert small_pg.is_categorical_node_prop("type")
    assert small_pg.is_numeric_edge_prop("mi")
    # setters validate against the Spark schema (core/io.py:247-259)
    small_pg.node_prop_as_category("score")
    assert small_pg.is_categorical_node_prop("score")
    small_pg.node_prop_as_numeric("score")
    with pytest.raises(ValueError):
        small_pg.node_prop_as_numeric("type")  # array is not numeric
    with pytest.raises(ValueError):
        small_pg.edge_prop_as_text("mi")  # double is not text
    # metadata survives derivation and renames
    renamed = small_pg.rename_node_properties({"score": "s2"})
    assert renamed.is_numeric_node_prop("s2")
    sub = small_pg.subgraph(nodes=["a", "b"])
    assert sub.is_numeric_node_prop("score") and sub.is_numeric_edge_prop("mi")


def test_prop_type_not_stale_after_replacement(spark, small_pg):
    """Overwriting a numeric prop with string values must not carry the old
    'numeric' label onto the replaced column (ADVICE r2): the exported
    node_property_types would contradict the data."""
    str_scores = spark.createDataFrame(
        [("a", "low"), ("b", "high"), ("c", "low")], "id string, score string"
    )
    out = small_pg.add_node_properties(str_scores)
    assert not out.is_numeric_node_prop("score")
    assert out.is_categorical_node_prop("score")
    assert out.to_json()["node_property_types"]["score"] == "category"
    # a still-numeric replacement keeps the numeric label
    num_scores = spark.createDataFrame(
        [("a", 9.0), ("b", 8.0)], "id string, score double"
    )
    assert small_pg.add_node_properties(num_scores).is_numeric_node_prop("score")


def test_add_properties_prop_type_argument(spark, small_pg):
    """Explicit prop_type on add, like the reference (core/io.py:792-836);
    invalid assignments raise like its validators."""
    tags = spark.createDataFrame([("a", "hot"), ("b", "cold")], "id string, tag string")
    out = small_pg.add_node_properties(tags, prop_type="text")
    assert out.is_text_node_prop("tag")
    with pytest.raises(ValueError):
        small_pg.add_node_properties(tags, prop_type="numeric")
    ew = spark.createDataFrame(
        [("a", "b", 2.0)], "src string, dst string, w double"
    )
    out = small_pg.add_edge_properties(ew, prop_type="category")
    assert out.is_categorical_edge_prop("w")


def test_aggregate_duplicate_nodes_array_union(spark):
    """Array props merge by set union like the reference's safe merge
    (core/utils.py:43-56); scalars by max (documented divergence)."""
    nodes = spark.createDataFrame(
        [("a", ["X"], 1.0), ("a", ["Y", "X"], 2.0), ("b", ["Z"], 3.0)],
        "id string, type array<string>, score double",
    )
    edges = spark.createDataFrame([], "src string, dst string")
    agg = SparkPGFrame(nodes, edges).aggregate_duplicate_nodes()
    got = {r["id"]: (r["type"], r["score"]) for r in agg.nodes().collect()}
    assert got == {"a": (["X", "Y"], 2.0), "b": (["Z"], 3.0)}


def test_aggregate_duplicate_nodes_scalar_set_mode(spark):
    """scalar_merge='set' promotes scalar props to sorted distinct arrays —
    the reference's set semantics minus singleton-unwrap (SURVEY §2.3):
    conflicting values are preserved instead of collapsed to max."""
    nodes = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 3.0), ("c", None)],
        "id string, score double",
    )
    edges = spark.createDataFrame([], "src string, dst string")
    agg = SparkPGFrame(nodes, edges).aggregate_duplicate_nodes(scalar_merge="set")
    got = {r["id"]: r["score"] for r in agg.nodes().collect()}
    assert got == {"a": [1.0, 2.0], "b": [3.0], "c": []}
    # promoted column is array-typed -> categorized as category metadata
    assert agg.is_categorical_node_prop("score")
    with pytest.raises(ValueError):
        SparkPGFrame(nodes, edges).aggregate_duplicate_nodes(scalar_merge="median")


def test_point_lookups_missing(small_pg):
    assert small_pg.get_node("zz") is None
    assert small_pg.get_edge("a", "c") is None


def test_compute_all_node_metrics_karate(spark):
    g = karate()
    edges = nx_to_edges_df(spark, g, weight="strength")
    df = compute_all_node_metrics(
        edges,
        degree_weights=(None, "strength"),
        pagerank_weights=("strength",),
    )
    assert set(df.columns) == {"id", "degree", "degree_strength", "pagerank_strength"}
    rows = {r["id"]: r for r in df.collect()}
    # unweighted degree oracle
    for n, d in g.degree():
        assert rows[str(n)]["degree"] == pytest.approx(d)
    # weighted degree oracle
    for n, d in g.degree(weight="strength"):
        assert rows[str(n)]["degree_strength"] == pytest.approx(d)
    # weighted pagerank oracle at 1e-6
    pr = pagerank_oracle(g, weight="strength")
    for n, v in pr.items():
        assert rows[str(n)]["pagerank_strength"] == pytest.approx(v, abs=1e-6)


class TestTriplesGephiJsonld:
    """to_triples / export_to_gephi / from_jsonld / to_jsonld (reference
    core/io.py:1144-1162, 550-614, 367-528)."""

    @staticmethod
    def _frame(spark):
        from bluegraph_spark.pgframe import SparkPGFrame

        nodes = spark.createDataFrame(
            [("a", ["Person"], 30), ("b", ["Person", "Admin"], None), ("c", None, 25)],
            "id string, type array<string>, age int",
        )
        edges = spark.createDataFrame(
            [("a", "b", ["knows"], 0.5), ("b", "c", ["manages"], 1.5)],
            "src string, dst string, type array<string>, w double",
        )
        return SparkPGFrame(nodes, edges, directed=True)

    def test_to_triples(self, spark):
        pg = self._frame(spark)
        t = {tuple(r) for r in pg.to_triples().collect()}
        assert ("a", "knows", "b") in t
        assert ("b", "manages", "c") in t
        assert ("a", "@type", "Person") in t
        assert ("b", "@type", "Admin") in t
        assert ("a", "age", "30") in t
        assert ("c", "age", "25") in t
        # null props dropped; c has no type triples
        assert not any(s == "c" and p == "@type" for s, p, _ in t)
        # literal toggle
        t2 = {tuple(r) for r in pg.to_triples(include_literals=False).collect()}
        assert t2 == {("a", "knows", "b"), ("b", "manages", "c")}
        # include_type toggle drops @type literals only
        t3 = {tuple(r) for r in pg.to_triples(include_type=False).collect()}
        assert not any(p == "@type" for _, p, _ in t3)
        assert ("a", "age", "30") in t3

    def test_export_to_gephi(self, spark, tmp_path):
        pg = self._frame(spark)
        prefix = str(tmp_path / "viz")
        pg.export_to_gephi(
            prefix, {"age": "Age"}, {"w": "Weight"},
            edge_filter=lambda s, t, props: props["w"] > 1.0,
        )
        nodes = open(f"{prefix}_nodes.csv").read().splitlines()
        edges = open(f"{prefix}_edges.csv").read().splitlines()
        assert nodes[0] == "Id;Label;Age"
        assert nodes[1] == "1;a;30"  # 1-based global id rank
        assert edges[0] == "Source;Target;Weight"
        assert edges[1:] == ["2;3;1.5"]  # filter kept only b->c
        import pytest as _pytest

        with _pytest.raises(ValueError, match="nodes"):
            pg.export_to_gephi(prefix, {}, {}, max_nodes=1)
        with _pytest.raises(ValueError, match="edges"):
            pg.export_to_gephi(prefix, {}, {}, max_edges=1)

    def test_from_jsonld_roundtrip_semantics(self, spark):
        from bluegraph_spark.pgframe import SparkPGFrame

        resources = [
            {
                "@id": "p1",
                "@type": "Person",
                "name": "Ada",
                "knows": {"@id": "p2", "name": "Bob"},
                "tags": ["x", "y"],
            },
            {"@id": "p3", "@type": ["Robot"], "owner": [{"@id": "p1"}]},
        ]
        pg = SparkPGFrame.from_jsonld(spark, resources)
        nodes = {r["id"]: r.asDict() for r in pg.nodes(props=None).collect()}
        assert set(nodes) == {"p1", "p2", "p3"}
        # p1 appears twice: top-level (@type Person) and as p3's untyped
        # 'owner' target — the reference's _aggregate_values set-unions
        # the two type readings (core/utils.py:43-56)
        assert nodes["p1"]["type"] == ["Person", "owner"]
        assert nodes["p1"]["name"] == "Ada"
        assert sorted(nodes["p1"]["tags"]) == ["x", "y"]
        # untyped nested resource typed from the incoming relation
        assert nodes["p2"]["type"] == ["knows"]
        assert nodes["p3"]["type"] == ["Robot"]
        edges = {(r.src, r.dst): r.type for r in pg.edges(props=["type"]).collect()}
        assert edges[("p1", "p2")] == ["knows"]
        assert edges[("p3", "p1")] == ["owner"]

        out = pg.to_jsonld()
        by_id = {r["@id"]: r for r in out}
        assert by_id["p1"]["@type"] == ["Person", "owner"]
        assert any("knows" in e for e in by_id["p1"]["edges"])


def _ids(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _frame_shape(pg):
    return (
        _ids(pg.nodes(), "id"),
        _ids(pg.edges(), "src", "dst"),
        pg.node_properties(),
        pg.edge_properties(),
    )


def _rename_edge_properties(pg, spark):
    out = pg.rename_edge_properties({"mi": "npmi"})
    # the renamed column keeps its numeric type
    return out.edge_properties(), out.is_numeric_edge_prop("npmi")


def _node_prop_as_text(pg, spark):
    pg.node_prop_as_text("label")
    return pg.is_text_node_prop("label"), pg.is_categorical_node_prop("label")


def _edge_prop_as_category(pg, spark):
    pg.edge_prop_as_category("mi")
    return pg.is_categorical_edge_prop("mi"), pg.is_numeric_edge_prop("mi")


def _edge_prop_as_numeric(pg, spark):
    pg.edge_prop_as_category("mi")
    pg.edge_prop_as_numeric("mi")
    return pg.is_numeric_edge_prop("mi")


def _is_text_edge_prop(pg, spark):
    before = pg.is_text_edge_prop("note")
    pg.edge_prop_as_text("note")
    return before, pg.is_text_edge_prop("note"), pg.is_text_edge_prop("mi")


# method -> (call on the small frame, what it returns under SURVEY §1.2/§2.2)
SURFACE = {
    # semi-join filters return the matching rows of the frame
    "filter_nodes": (
        lambda pg, spark: _ids(pg.filter_nodes(["a", "c", "zz"]), "id"),
        [("a",), ("c",)],
    ),
    "filter_edges": (
        lambda pg, spark: _ids(
            pg.filter_edges(spark.createDataFrame([("b", "c")], "src string, dst string")),
            "src", "dst",
        ),
        [("b", "c")],
    ),
    # anti-join removes; removing a node detaches its incident edges
    "remove_nodes": (
        lambda pg, spark: _frame_shape(pg.remove_nodes(["b"])),
        ([("a",), ("c",)], [], ["score", "type"], ["mi"]),
    ),
    "remove_edges": (
        lambda pg, spark: _frame_shape(
            pg.remove_edges(spark.createDataFrame([("a", "b")], "src string, dst string"))
        ),
        ([("a",), ("b",), ("c",)], [("b", "c")], ["score", "type"], ["mi"]),
    ),
    # dropping and renaming property columns
    "remove_node_properties": (
        lambda pg, spark: _frame_shape(pg.remove_node_properties("score")),
        ([("a",), ("b",), ("c",)], [("a", "b"), ("b", "c")], ["type"], ["mi"]),
    ),
    "remove_edge_properties": (
        lambda pg, spark: _frame_shape(pg.remove_edge_properties("mi")),
        ([("a",), ("b",), ("c",)], [("a", "b"), ("b", "c")], ["score", "type"], []),
    ),
    "rename_edge_properties": (_rename_edge_properties, (["npmi"], True)),
    # property-type setters and predicates
    "node_prop_as_text": (_node_prop_as_text, (True, False)),
    "edge_prop_as_category": (_edge_prop_as_category, (True, False)),
    "edge_prop_as_numeric": (_edge_prop_as_numeric, True),
    "is_text_edge_prop": (_is_text_edge_prop, (False, True, False)),
    # the vertex set induced from edge endpoints; undirected edges canonical
    "from_edges": (
        lambda pg, spark: _frame_shape(
            SparkPGFrame.from_edges(
                spark.createDataFrame(
                    [("y", "x", 1.0), ("x", "z", 2.0)], "src string, dst string, w double"
                )
            )
        ),
        ([("x",), ("y",), ("z",)], [("x", "y"), ("x", "z")], [], ["w"]),
    ),
}


@pytest.mark.parametrize("method", list(SURFACE))
def test_pgframe_surface(spark, small_pg, method):
    pg = small_pg
    if method in ("node_prop_as_text", "is_text_edge_prop"):
        # string columns to type as text
        pg = pg.add_node_properties(
            spark.createDataFrame([("a", "alpha")], "id string, label string")
        ).add_edge_properties(
            spark.createDataFrame([("a", "b", "n1")], "src string, dst string, note string")
        )
    call, want = SURFACE[method]
    assert call(pg, spark) == want

