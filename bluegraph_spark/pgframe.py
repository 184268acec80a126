"""SparkPGFrame — the property graph as a pair of DataFrames.

The reference's fundamental abstraction is ``PGFrame``: a node frame indexed
by ``@id`` and an edge frame indexed by ``(@source_id, @target_id)``, with
every extra column a property and ``@type`` a reserved (possibly set-valued)
property (/root/reference/bluegraph/core/io.py:36-45, 714-1337). The
reference ships a ``SparkPGFrame`` stub whose ``__init__`` is ``pass``
(core/io.py:1340-1345); this class is that missing backend, built
DataFrame-first rather than by porting the pandas code.

Column conventions: nodes ``(id, ...props)``, edges ``(src, dst, ...props)``,
``type`` as ``array<string>`` when set-valued. Undirected graphs store each
edge once in canonical ``src <= dst`` form and are symmetrized on demand for
message-passing algorithms (reference stores s<t by generation order,
preprocess/generators.py:204, and interprets ``directed=False`` at backend
load, core/io.py:1357-1363).

Everything here is a narrow relational plan (joins / anti-joins / aggregates)
that Catalyst can push down and prune — e.g. the reference's O(n·m) Python
loop for ``isolated_nodes`` (core/io.py:1237-1252) becomes an anti-join
against the distinct endpoint set.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC_SPARK_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)

PROP_TYPES = ("category", "text", "numeric")


def _is_numeric_field(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC_SPARK_TYPES)


def _infer_prop_types(df: DataFrame, skip: tuple[str, ...]) -> dict[str, str]:
    """Reference default typing (core/io.py:261-274): numeric columns →
    'numeric', everything else (strings, arrays, the 'type' column) →
    'category'."""
    out: dict[str, str] = {}
    for f in df.schema.fields:
        if f.name in skip:
            continue
        out[f.name] = "numeric" if _is_numeric_field(f.dataType) else "category"
    return out


def canonicalize_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Put undirected edges in canonical (least, greatest) endpoint order."""
    others = [c for c in edges.columns if c not in (src, dst)]
    return edges.select(
        F.least(F.col(src), F.col(dst)).alias(src),
        F.greatest(F.col(src), F.col(dst)).alias(dst),
        *others,
    )


def symmetrize_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Both directions of every undirected edge (for message passing).

    Self-loops are emitted once to avoid double-counting their weight, which
    matches how NetworkX treats undirected self-loops in e.g. PageRank's
    stochastic matrix.

    Single-pass by construction: one ``explode`` over a two-struct array
    rather than a UNION of a forward and a reversed branch. A union embeds
    the input PLAN twice, and Spark executes both branches — for a lazy
    upstream (a co-occurrence self-join feeding a loop operator) that
    silently doubles the most expensive stage of the job (measured: the
    LPA pre-loop materialization at sf0.1 dropped from ~12.6s to one
    join's worth when the double-execution went away). The explode stays
    inside whole-stage codegen and needs no defensive caching.
    """
    others = [c for c in edges.columns if c not in (src, dst)]
    fwd = F.struct(
        F.col(src).alias(src), F.col(dst).alias(dst), *[F.col(c) for c in others]
    )
    rev = F.struct(
        F.col(dst).alias(src), F.col(src).alias(dst), *[F.col(c) for c in others]
    )
    both = F.when(
        F.col(src) == F.col(dst), F.array(fwd)
    ).otherwise(F.array(fwd, rev))
    return edges.select(F.explode(both).alias("_e")).select("_e.*")


def vertex_ids(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Distinct ``(id)`` from a caller's vertex frame (ids in its first
    column), cast to the type of ``edges``' ``src``."""
    id_type = dict(edges.dtypes).get("src", "string")
    first = nodes.columns[0]
    return nodes.select(F.col(first).cast(id_type).alias("id")).distinct()


def vertex_set(
    edges: DataFrame, nodes: DataFrame | None = None, *aggs: Column
) -> DataFrame:
    """One row per vertex of ``edges``, from one ``groupBy(id)``.

    The aggregation runs over ``(src, <edge columns>) ∪ (dst, NULLs)``, so
    every endpoint is a vertex (a self-loop-only one included) and ``aggs``
    see each edge's columns once, on its ``src`` row. With a caller
    ``nodes`` frame (cast through :func:`vertex_ids`) the vertex set is
    exactly its ids: listed isolated ones join with NULL edge columns,
    endpoints missing from it are dropped. Pass the cache an operator
    already holds, so the upstream edge expression is not read again.
    """
    cols = [c for c in edges.columns if c not in ("src", "dst")] if aggs else []
    ends = edges.select(F.col("src").alias("id"), *cols).unionByName(
        edges.select(F.col("dst").alias("id")), allowMissingColumns=True
    )
    if nodes is not None:
        aggs = (*aggs, F.max("_listed").alias("_listed"))
        ends = ends.withColumn("_listed", F.lit(False)).unionByName(
            vertex_ids(nodes, edges).withColumn("_listed", F.lit(True)),
            allowMissingColumns=True,
        )
    out = ends.groupBy("id").agg(*aggs) if aggs else ends.select("id").distinct()
    return out if nodes is None else out.filter("_listed").drop("_listed")


class SparkPGFrame:
    """Property graph = (nodes DataFrame, edges DataFrame)."""

    def __init__(
        self,
        nodes: DataFrame,
        edges: DataFrame,
        directed: bool = False,
        id_col: str = "id",
        src_col: str = "src",
        dst_col: str = "dst",
    ):
        if id_col != "id":
            nodes = nodes.withColumnRenamed(id_col, "id")
        if src_col != "src":
            edges = edges.withColumnRenamed(src_col, "src")
        if dst_col != "dst":
            edges = edges.withColumnRenamed(dst_col, "dst")
        self._nodes = nodes.withColumn("id", F.col("id").cast("string"))
        self._edges = edges.withColumn("src", F.col("src").cast("string")).withColumn(
            "dst", F.col("dst").cast("string")
        )
        if not directed:
            self._edges = canonicalize_edges(self._edges)
        self.directed = directed
        # property-type side metadata (reference core/io.py:44-45, 261-274):
        # 'category' | 'text' | 'numeric' per property; defaults inferred
        # from the Spark schema. Survives derivation/rename; consumed by
        # encoders / export (SURVEY §1.3).
        self._node_prop_types = _infer_prop_types(self._nodes, ("id",))
        self._edge_prop_types = _infer_prop_types(self._edges, ("src", "dst"))

    def _derived(
        self,
        nodes: DataFrame,
        edges: DataFrame,
        node_renames: dict[str, str] | None = None,
        edge_renames: dict[str, str] | None = None,
    ) -> "SparkPGFrame":
        """New frame carrying over property-type metadata for surviving
        (possibly renamed) columns; brand-new columns get inferred types.

        A carried-over label is only kept when the column's Spark type still
        satisfies it (``_valid_prop_type``) — replacing a numeric column with
        string values must not leave a stale ``numeric`` label contradicting
        the data; the freshly inferred type wins instead."""
        out = SparkPGFrame(nodes, edges, directed=self.directed)
        nr = node_renames or {}
        er = edge_renames or {}
        for k, v in self._node_prop_types.items():
            k2 = nr.get(k, k)
            if k2 in out._node_prop_types and self._valid_prop_type(
                out._nodes, k2, v
            ):
                out._node_prop_types[k2] = v
        for k, v in self._edge_prop_types.items():
            k2 = er.get(k, k)
            if k2 in out._edge_prop_types and self._valid_prop_type(
                out._edges, k2, v
            ):
                out._edge_prop_types[k2] = v
        return out

    # ---- property-type surface (reference core/io.py:247-330) ----------

    @staticmethod
    def _valid_prop_type(df: DataFrame, prop: str, prop_type: str) -> bool:
        dt = df.schema[prop].dataType
        if prop_type == "text":
            return isinstance(dt, T.StringType)
        if prop_type == "numeric":
            return _is_numeric_field(dt)
        return True

    def _set_node_prop_type(self, prop: str, prop_type: str) -> None:
        if prop not in self._nodes.columns or prop == "id":
            raise ValueError(f"no such node property: {prop!r}")
        if not self._valid_prop_type(self._nodes, prop, prop_type):
            raise ValueError(
                f"Cannot cast the values of the node property {prop!r} "
                f"to {prop_type!r}"
            )
        self._node_prop_types[prop] = prop_type

    def _set_edge_prop_type(self, prop: str, prop_type: str) -> None:
        if prop not in self._edges.columns or prop in ("src", "dst"):
            raise ValueError(f"no such edge property: {prop!r}")
        if not self._valid_prop_type(self._edges, prop, prop_type):
            raise ValueError(
                f"Cannot cast the values of the edge property {prop!r} "
                f"to {prop_type!r}"
            )
        self._edge_prop_types[prop] = prop_type

    def node_prop_as_category(self, prop: str) -> None:
        self._set_node_prop_type(prop, "category")

    def node_prop_as_text(self, prop: str) -> None:
        self._set_node_prop_type(prop, "text")

    def node_prop_as_numeric(self, prop: str) -> None:
        self._set_node_prop_type(prop, "numeric")

    def edge_prop_as_category(self, prop: str) -> None:
        self._set_edge_prop_type(prop, "category")

    def edge_prop_as_text(self, prop: str) -> None:
        self._set_edge_prop_type(prop, "text")

    def edge_prop_as_numeric(self, prop: str) -> None:
        self._set_edge_prop_type(prop, "numeric")

    def is_categorical_node_prop(self, prop: str) -> bool:
        return self._node_prop_types.get(prop) == "category"

    def is_text_node_prop(self, prop: str) -> bool:
        return self._node_prop_types.get(prop) == "text"

    def is_numeric_node_prop(self, prop: str) -> bool:
        return self._node_prop_types.get(prop) == "numeric"

    def is_categorical_edge_prop(self, prop: str) -> bool:
        return self._edge_prop_types.get(prop) == "category"

    def is_text_edge_prop(self, prop: str) -> bool:
        return self._edge_prop_types.get(prop) == "text"

    def is_numeric_edge_prop(self, prop: str) -> bool:
        return self._edge_prop_types.get(prop) == "numeric"

    # ---- constructors -------------------------------------------------

    @classmethod
    def from_edges(cls, edges: DataFrame, directed: bool = False, **kw) -> "SparkPGFrame":
        """Graph with the vertex set induced from edge endpoints."""
        src = kw.get("src_col", "src")
        dst = kw.get("dst_col", "dst")
        nodes = (
            edges.select(F.col(src).cast("string").alias("id"))
            .unionByName(edges.select(F.col(dst).cast("string").alias("id")))
            .distinct()
        )
        return cls(nodes, edges, directed=directed, **kw)

    # ---- projections / filters (reference core/io.py:968-1013) --------

    def node_properties(self) -> list[str]:
        return [c for c in self._nodes.columns if c != "id"]

    def edge_properties(self) -> list[str]:
        return [c for c in self._edges.columns if c not in ("src", "dst")]

    def nodes(self, typed_by: str | None = None, props: Sequence[str] | None = None) -> DataFrame:
        """Node frame, optionally filtered by type membership and projected.

        Type match is superset semantics (``element_has_type``,
        core/utils.py:82-87): a node with types {A,B} matches typed_by=A.
        """
        df = self._nodes
        if typed_by is not None:
            df = _filter_typed(df, typed_by)
        if props is not None:
            df = df.select("id", *props)
        return df

    def edges(self, typed_by: str | None = None, props: Sequence[str] | None = None) -> DataFrame:
        df = self._edges
        if typed_by is not None:
            df = _filter_typed(df, typed_by)
        if props is not None:
            df = df.select("src", "dst", *props)
        return df

    def filter_nodes(self, ids: DataFrame | Iterable[str]) -> DataFrame:
        """Semi-join the node frame against an id list (core/io.py:1164-1166)."""
        ids_df = _as_id_df(self._nodes.sparkSession, ids)
        return self._nodes.join(ids_df, "id", "left_semi")

    def filter_edges(self, pairs: DataFrame) -> DataFrame:
        """Semi-join edges on (src, dst) (core/io.py:1168-1170)."""
        return self._edges.join(pairs.select("src", "dst"), ["src", "dst"], "left_semi")

    def subgraph(
        self,
        nodes: DataFrame | Iterable[str] | None = None,
        edges: DataFrame | None = None,
        remove_isolated_nodes: bool = False,
    ) -> "SparkPGFrame":
        """Node-induced (both endpoints in set) or edge-induced subgraph
        (core/io.py:1172-1199)."""
        n, e = self._nodes, self._edges
        if nodes is not None:
            ids = _as_id_df(n.sparkSession, nodes)
            n = n.join(ids, "id", "left_semi")
            e = (
                e.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
            )
        if edges is not None:
            e = e.join(edges.select("src", "dst"), ["src", "dst"], "left_semi")
            if nodes is None:
                n = n.join(vertex_set(edges), "id", "left_semi")
        out = self._derived(n, e)
        if remove_isolated_nodes:
            out = out.remove_isolated_nodes()
        return out

    def remove_nodes(self, ids: DataFrame | Iterable[str]) -> "SparkPGFrame":
        """Delete nodes and detach incident edges (core/io.py:906-913)."""
        ids_df = _as_id_df(self._nodes.sparkSession, ids)
        n = self._nodes.join(ids_df, "id", "left_anti")
        e = (
            self._edges.join(ids_df.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(ids_df.withColumnRenamed("id", "dst"), "dst", "left_anti")
        )
        return self._derived(n, e)

    def remove_edges(self, pairs: DataFrame) -> "SparkPGFrame":
        e = self._edges.join(pairs.select("src", "dst"), ["src", "dst"], "left_anti")
        return self._derived(self._nodes, e)

    # ---- properties (core/io.py:792-904) -------------------------------

    def add_node_properties(
        self,
        props: DataFrame,
        merge_sets: bool = False,
        prop_type: str | None = None,
    ) -> "SparkPGFrame":
        """Left-join a property frame (id, <prop...>) onto nodes.

        With ``merge_sets`` an existing array-typed column of the same name
        is merged by set union (the reference merges category props as set
        union, core/io.py:816-835) — new column wins otherwise.

        ``prop_type`` ('category' | 'text' | 'numeric') assigns the logical
        type of every added column, mirroring the reference's explicit
        prop-type argument (core/io.py:792-836, default 'category'); omitted,
        the type is inferred from the Spark schema. Invalid assignments
        (e.g. 'numeric' on a string column) raise, like the reference's
        PGFrameException validators (core/io.py:831-835).
        """
        new_cols = [c for c in props.columns if c != "id"]
        n = self._nodes
        for c in new_cols:
            if c in n.columns:
                if merge_sets:
                    n = n.withColumnRenamed(c, f"__old_{c}")
                else:
                    n = n.drop(c)
        n = n.join(props, "id", "left")
        if merge_sets:
            for c in new_cols:
                old = f"__old_{c}"
                if old in n.columns:
                    n = n.withColumn(
                        c,
                        F.array_sort(
                            F.array_union(
                                F.coalesce(F.col(old), F.array()),
                                F.coalesce(F.col(c), F.array()),
                            )
                        ),
                    ).drop(old)
        out = self._derived(n, self._edges)
        if prop_type is not None:
            for c in new_cols:
                out._set_node_prop_type(c, prop_type)
        return out

    def add_edge_properties(
        self, props: DataFrame, prop_type: str | None = None
    ) -> "SparkPGFrame":
        new_cols = [c for c in props.columns if c not in ("src", "dst")]
        e = self._edges
        for c in new_cols:
            if c in e.columns:
                e = e.drop(c)
        e = e.join(props, ["src", "dst"], "left")
        out = self._derived(self._nodes, e)
        if prop_type is not None:
            for c in new_cols:
                out._set_edge_prop_type(c, prop_type)
        return out

    def remove_node_properties(self, *cols: str) -> "SparkPGFrame":
        return self._derived(self._nodes.drop(*cols), self._edges)

    def remove_edge_properties(self, *cols: str) -> "SparkPGFrame":
        return self._derived(self._nodes, self._edges.drop(*cols))

    def rename_node_properties(self, mapping: dict[str, str]) -> "SparkPGFrame":
        n = self._nodes
        for a, b in mapping.items():
            n = n.withColumnRenamed(a, b)
        return self._derived(n, self._edges, node_renames=mapping)

    def rename_edge_properties(self, mapping: dict[str, str]) -> "SparkPGFrame":
        e = self._edges
        for a, b in mapping.items():
            e = e.withColumnRenamed(a, b)
        return self._derived(self._nodes, e, edge_renames=mapping)

    # ---- aggregation (core/io.py:1091-1098; core/utils.py:43-56) -------

    def aggregate_duplicate_nodes(self, scalar_merge: str = "max") -> "SparkPGFrame":
        """Group duplicate ids; array props merged by sorted set-union (the
        reference's set merge, core/utils.py:43-56, matched exactly —
        tests/test_pgframe_io.py::test_aggregate_duplicate_nodes_array_union).

        Scalar props: the reference's merge is singleton-unwrap-or-set —
        per-row value types, which a stable Spark schema cannot express.
        Two deterministic stand-ins (SURVEY §2.3):

        - ``scalar_merge="max"`` (default, backward compatible): keep the
          max distinct value as a scalar — same column type, loses
          multi-valued conflicts;
        - ``scalar_merge="set"``: promote every scalar prop to a sorted
          distinct array (nulls dropped) — the reference's set semantics
          with the singleton-unwrap dropped, as SURVEY §2.3 prescribes;
          conflicts are preserved, the column type widens to array.
        """
        if scalar_merge not in ("max", "set"):
            raise ValueError("scalar_merge must be 'max' or 'set'")
        aggs = []
        for field in self._nodes.schema.fields:
            if field.name == "id":
                continue
            if field.dataType.typeName() == "array":
                aggs.append(
                    F.array_sort(F.array_distinct(F.flatten(F.collect_list(field.name)))).alias(
                        field.name
                    )
                )
            elif scalar_merge == "set":
                aggs.append(
                    F.array_sort(F.collect_set(field.name)).alias(field.name)
                )
            else:
                aggs.append(F.max(field.name).alias(field.name))
        n = self._nodes.groupBy("id").agg(*aggs) if aggs else self._nodes.distinct()
        return self._derived(n, self._edges)

    # ---- structure metrics (core/io.py:610-615, 1069-1075, 1237-1252) --

    def number_of_nodes(self) -> int:
        return self._nodes.count()

    def number_of_edges(self) -> int:
        return self._edges.count()

    def density(self) -> float:
        """m / (n(n-1)) for directed, 2m / (n(n-1)) undirected
        (core/io.py:610-615)."""
        n = self.number_of_nodes()
        m = self.number_of_edges()
        if n < 2:
            return 0.0
        d = m / (n * (n - 1))
        return d if self.directed else 2 * d

    def endpoint_ids(self) -> DataFrame:
        return vertex_set(self._edges)

    def isolated_nodes(self) -> DataFrame:
        """Nodes with no incident edges — anti-join instead of the
        reference's O(n·m) loop (core/io.py:1237-1246)."""
        return self._nodes.select("id").join(self.endpoint_ids(), "id", "left_anti")

    def remove_isolated_nodes(self) -> "SparkPGFrame":
        n = self._nodes.join(self.endpoint_ids(), "id", "left_semi")
        return self._derived(n, self._edges)

    # ---- point lookups (core/io.py:1037-1067; tests only — driver-side) --

    def get_node(self, node_id) -> dict | None:
        rows = self._nodes.filter(F.col("id") == str(node_id)).collect()
        return rows[0].asDict() if rows else None

    def get_edge(self, src, dst) -> dict | None:
        s, d = str(src), str(dst)
        cond = (F.col("src") == s) & (F.col("dst") == d)
        if not self.directed:
            cond = cond | ((F.col("src") == d) & (F.col("dst") == s))
        rows = self._edges.filter(cond).collect()
        return rows[0].asDict() if rows else None

    def get_node_property_values(self, prop: str) -> dict:
        return {r["id"]: r[prop] for r in self._nodes.select("id", prop).collect()}

    def get_edge_property_values(self, prop: str) -> dict:
        return {
            (r["src"], r["dst"]): r[prop]
            for r in self._edges.select("src", "dst", prop).collect()
        }

    # ---- JSON / CSV round-trips (core/io.py:529-548, 1133-1142, 1254-1311)

    def to_triples(
        self,
        predicate_prop: str = "type",
        include_type: bool = True,
        include_literals: bool = True,
    ) -> DataFrame:
        """(subject, predicate, object) triples — distributed.

        Reference ``PGFrame.to_triples`` (core/io.py:1144-1162): one triple
        per edge with the edge's ``predicate_prop`` value as predicate,
        plus (id, property_name, value) literal triples for every non-null
        node property when ``include_literals``. Array-valued properties
        (e.g. the @type set) explode to one triple per element, which is
        the RDF-correct reading of the reference's set-valued cells. All
        three columns are strings; a pure union-of-projections plan.
        """
        e = self._edges
        if predicate_prop in e.columns:
            pred = F.col(predicate_prop)
            if dict(e.dtypes).get(predicate_prop, "").startswith("array"):
                e = e.withColumn("_p", F.explode(pred))
                pred = F.col("_p")
        else:
            pred = F.lit(predicate_prop)
        parts = [
            e.select(
                F.col("src").cast("string").alias("subject"),
                pred.cast("string").alias("predicate"),
                F.col("dst").cast("string").alias("object"),
            )
        ]
        if include_literals:
            for prop in self.node_properties():
                if prop == "type" and not include_type:
                    continue
                col = F.col(prop)
                frame = self._nodes.filter(col.isNotNull())
                if dict(self._nodes.dtypes)[prop].startswith("array"):
                    frame = frame.select("id", F.explode(col).alias("_v"))
                    col = F.col("_v")
                out_name = "@type" if prop == "type" else prop
                parts.append(
                    frame.select(
                        F.col("id").cast("string").alias("subject"),
                        F.lit(out_name).alias("predicate"),
                        col.cast("string").alias("object"),
                    )
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def export_to_gephi(
        self,
        prefix: str,
        node_attr_mapping: dict,
        edge_attr_mapping: dict,
        edge_filter=None,
        max_nodes: int = 100_000,
        max_edges: int = 2_000_000,
    ) -> None:
        """Gephi CSV export (reference core/io.py:550-614): semicolon-
        separated ``<prefix>_nodes.csv`` / ``<prefix>_edges.csv``, node ids
        replaced by 1-based integers with the original id as the Label
        column. The reference uses pandas positional index; this engine
        uses the deterministic global id-rank (same mapping whenever the
        reference's node frame is id-sorted). Gephi artifacts are
        single-file driver-side visualization exports by nature, so this
        collects behind a size gate like the centrality bridge.
        """
        n_nodes = self._nodes.count()
        if n_nodes > max_nodes:
            raise ValueError(
                f"{n_nodes} nodes > max_nodes={max_nodes}: Gephi export is "
                "a driver-side visualization artifact; reduce the graph "
                "first or raise the gate explicitly"
            )
        n_edges = self._edges.count()
        if n_edges > max_edges:
            raise ValueError(
                f"{n_edges} edges > max_edges={max_edges}: Gephi export "
                "collects the edge table to the driver; reduce the graph "
                "first or raise the gate explicitly"
            )
        from bluegraph_spark.operators.linkpred import node_index
        from bluegraph_spark.plans.loop import CacheScope

        with CacheScope() as scope:
            idx = scope.adopt(node_index(self._nodes.select("id")))
            id_of = {r.id: r.idx + 1 for r in idx.collect()}

        edge_rows = []
        for r in self._edges.collect():
            d = r.asDict()
            if edge_filter is not None and not edge_filter(
                d["src"], d["dst"], d
            ):
                continue
            edge_rows.append(
                [id_of[d["src"]], id_of[d["dst"]]]
                + [d.get(a) for a in edge_attr_mapping]
            )
        with open(f"{prefix}_edges.csv", "w") as f:
            f.write(
                "Source;Target;"
                + ";".join(edge_attr_mapping.values())
                + "\n"
            )
            f.write(
                "\n".join(";".join(str(x) for x in row) for row in edge_rows)
            )

        node_rows = []
        for r in self._nodes.collect():
            d = r.asDict()
            node_rows.append(
                [id_of[d["id"]], d["id"]]
                + [d.get(a) for a in node_attr_mapping]
            )
        node_rows.sort(key=lambda x: x[0])
        with open(f"{prefix}_nodes.csv", "w") as f:
            f.write(
                "Id;Label;" + ";".join(node_attr_mapping.values()) + "\n"
            )
            f.write(
                "\n".join(";".join(str(x) for x in row) for row in node_rows)
            )

    @classmethod
    def from_jsonld(
        cls,
        spark,
        resources,
        include_context: bool = True,
        type_handler=None,
        types_from_relations: bool = True,
        exclude: list | None = None,
        only_props: bool = False,
        directed: bool = True,
    ) -> "SparkPGFrame":
        """Build a PGFrame from JSON-LD resources (reference from_jsonld,
        core/io.py:457-493 over the _nodes_edges_from_dict walk). The walk
        itself runs driver-side over the resource dicts — the reference
        shape, for the reference's document-collection scale; a 10^12-
        resource ingest would spark.read.json + explode the same mapping.
        Duplicate node occurrences aggregate with set-union type/attr
        merge (the reference's _aggregate_nodes)."""
        import pandas as pd

        state: dict = {"nodes": [], "edges": []}
        for r in resources:
            _jsonld_walk(
                state,
                None,
                None,
                None,
                r,
                include_context,
                type_handler,
                types_from_relations,
                exclude or [],
                only_props,
            )
        # aggregate duplicate node records: union types, last-wins attrs
        merged: dict = {}
        for rec in state["nodes"]:
            cur = merged.setdefault(rec["id"], {"id": rec["id"]})
            for k, v in rec.items():
                if k == "type":
                    cur["type"] = sorted(set(cur.get("type", [])) | set(v))
                else:
                    cur[k] = v
        node_rows = list(merged.values())
        edge_keys = {}
        for rec in state["edges"]:
            key = (rec["src"], rec["dst"])
            cur = edge_keys.setdefault(key, {"src": key[0], "dst": key[1]})
            cur["type"] = sorted(set(cur.get("type", [])) | set(rec["type"]))
        edge_rows = list(edge_keys.values())

        if node_rows:
            npdf = pd.DataFrame(node_rows)
            nodes = spark.createDataFrame(npdf.where(pd.notnull(npdf), None))
        else:
            nodes = spark.createDataFrame([], "id string")
        if edge_rows:
            edges = spark.createDataFrame(pd.DataFrame(edge_rows))
        else:
            edges = spark.createDataFrame([], "src string, dst string")
        return cls(nodes, edges, directed=directed)

    def to_jsonld(self, edges_key: str = "edges") -> list[dict]:
        """JSON-LD export (reference to_jsonld, core/io.py:495-528): one
        resource per node with '@id'/'@type' plus properties; outgoing
        edges nested under ``edges_key`` as {edge_prop..., <type>: {'@id':
        target}}. Driver-side collect — test/interchange scale, like
        to_json."""
        adj: dict = {}
        for r in self._edges.collect():
            d = r.asDict(recursive=True)
            src = d.pop("src")
            dst = d.pop("dst")
            etype = d.pop("type", None)
            entry = dict(d)
            key = etype if isinstance(etype, str) else (
                (etype or ["edge"])[0] if etype else "edge"
            )
            entry[key] = {"@id": str(dst)}
            adj.setdefault(src, []).append(entry)

        out = []
        for r in self._nodes.collect():
            d = {k: v for k, v in r.asDict(recursive=True).items() if v is not None}
            node = {"@id": str(d.pop("id"))}
            t = d.pop("type", None)
            if t:
                node["@type"] = [t] if isinstance(t, str) else list(t)
            node.update(d)
            if node["@id"] in adj:
                node[edges_key] = adj[node["@id"]]
            out.append(node)
        return out

    def to_json(self) -> dict:
        """Driver-side dict in the REFERENCE export shape (core/io.py:1254-
        1283): node rows keyed ``@id``/``@type``, edge rows keyed
        ``@source_id``/``@target_id``/``@type``, null-valued entries dropped
        per row (the reference's ``r.dropna()``), plus the
        ``node_property_types`` / ``edge_property_types`` maps. ``directed``
        is an engine extension the reference omits (PandasPGFrame carries no
        directedness); readers ignore unknown keys. Collects; test-fixture
        scale only (the bulk path is parquet/Iceberg via DataFrame writers).
        """

        def rows(df: DataFrame, renames: dict[str, str]) -> list[dict]:
            out = []
            for r in df.collect():
                d = r.asDict(recursive=True)
                out.append(
                    {renames.get(k, k): v for k, v in d.items() if v is not None}
                )
            return out

        def typed(types: dict[str, str]) -> dict[str, str]:
            return {("@type" if k == "type" else k): v for k, v in types.items()}

        return {
            "directed": self.directed,
            "nodes": rows(self._nodes, {"id": "@id", "type": "@type"}),
            "edges": rows(
                self._edges,
                {"src": "@source_id", "dst": "@target_id", "type": "@type"},
            ),
            "node_property_types": typed(self._node_prop_types),
            "edge_property_types": typed(self._edge_prop_types),
        }

    @classmethod
    def from_json(cls, spark, payload: dict) -> "SparkPGFrame":
        """Inverse of to_json (reference from_json, core/io.py:1285-1298).

        Accepts reference-keyed rows (``@id``/``@source_id``/``@target_id``/
        ``@type``) and, for backward compatibility, the engine's plain
        ``id``/``src``/``dst`` keys. Empty node/edge lists produce frames
        with explicit minimal schemas instead of crashing schema inference
        (the reference builds an empty indexed DataFrame, core/io.py:1291-
        1295).
        """
        import pandas as pd

        def norm(rows: list[dict], renames: dict[str, str]) -> list[dict]:
            return [
                {renames.get(k, k): v for k, v in r.items()} for r in rows
            ]

        node_rows = norm(
            payload.get("nodes", []), {"@id": "id", "@type": "type"}
        )
        edge_rows = norm(
            payload.get("edges", []),
            {"@source_id": "src", "@target_id": "dst", "@type": "type"},
        )
        if node_rows:
            npdf = pd.DataFrame(node_rows)
            nodes = spark.createDataFrame(npdf.where(pd.notnull(npdf), None))
        else:
            nodes = spark.createDataFrame([], "id string")
        if edge_rows:
            epdf = pd.DataFrame(edge_rows)
            edges = spark.createDataFrame(epdf.where(pd.notnull(epdf), None))
        else:
            edges = spark.createDataFrame([], "src string, dst string")
        out = cls(nodes, edges, directed=payload.get("directed", False))
        for key, attr in (
            ("node_property_types", "_node_prop_types"),
            ("edge_property_types", "_edge_prop_types"),
        ):
            for k, v in payload.get(key, {}).items():
                k2 = "type" if k == "@type" else k
                if k2 in getattr(out, attr):
                    getattr(out, attr)[k2] = v
        return out

    def export_json(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(self.to_json(), f)

    @classmethod
    def load_json(cls, spark, path: str) -> "SparkPGFrame":
        import json

        with open(path) as f:
            return cls.from_json(spark, json.load(f))

    def to_csv(self, node_path: str, edge_path: str) -> None:
        """CSV export of both frames (core/io.py:529-531). Array-typed
        property columns are JSON-encoded per cell (CSV has no arrays);
        from_csv decodes them back."""
        self._write_csv(self._nodes, node_path)
        self._write_csv(self._edges, edge_path)

    @staticmethod
    def _write_csv(df: DataFrame, path: str) -> None:
        cols = [
            F.to_json(c).alias(c) if t.startswith("array") else F.col(c)
            for c, t in df.dtypes
        ]
        df.select(cols).write.mode("overwrite").option("header", True).csv(path)

    @classmethod
    def from_csv(
        cls,
        spark,
        node_path: str,
        edge_path: str,
        directed: bool = False,
        array_props: tuple[str, ...] = (),
    ) -> "SparkPGFrame":
        """CSV load (core/io.py:533-548); ``array_props`` names columns to
        decode back from JSON-encoded arrays (the reference's @type-set
        parse-back, core/io.py:1137-1142)."""

        def read(path):
            df = spark.read.option("header", True).option("inferSchema", True).csv(path)
            for c in array_props:
                if c in df.columns:
                    df = df.withColumn(c, F.from_json(c, "array<string>"))
            return df

        return cls(read(node_path), read(edge_path), directed=directed)


def _filter_typed(df: DataFrame, typed_by: str) -> DataFrame:
    dtypes = dict(df.dtypes)
    if "type" not in dtypes:
        raise ValueError("frame has no 'type' property")
    if dtypes["type"].startswith("array"):
        return df.filter(F.array_contains("type", typed_by))
    return df.filter(F.col("type") == typed_by)


def _as_id_df(spark, ids) -> DataFrame:
    if isinstance(ids, DataFrame):
        return ids.select(F.col(ids.columns[0]).cast("string").alias("id")).distinct()
    return spark.createDataFrame([(str(i),) for i in ids], "id string")


def _jsonld_walk(
    state: dict,
    source,
    relation,
    source_attrs,
    record: dict,
    include_context: bool,
    type_handler,
    types_from_relations: bool,
    exclude: list,
    only_props: bool = False,
):
    """Recursive JSON-LD resource walk (reference _nodes_edges_from_dict,
    core/io.py:367-455): '@id' resources become nodes, scalar props become
    node attributes, dict-valued (or list-of-dict) props become typed
    edges to the nested resources, and untyped nested resources inherit
    the relation name as their type when ``types_from_relations``."""
    node_id = record.get("@id")
    attrs: dict = {}
    node_type = None
    context = None
    neighbours: dict = {}

    for k, v in record.items():
        if k == "@id":
            continue
        key = k.replace("@", "")
        if key == "type":
            node_type = type_handler(v) if type_handler else v
        elif key == "context":
            if include_context:
                context = v
        elif key not in exclude:
            if not isinstance(v, dict):
                if isinstance(v, list):
                    list_property = False
                    for el in v:
                        if not isinstance(el, dict):
                            list_property = True
                            break
                        if key not in neighbours:
                            neighbours[key] = []
                        if not only_props:
                            neighbours[key].append(
                                _jsonld_walk(
                                    state,
                                    node_id if node_id is not None else source,
                                    key
                                    if node_id is not None
                                    else f"{relation}.{key}",
                                    attrs if node_id is not None else source_attrs,
                                    el,
                                    include_context,
                                    type_handler,
                                    types_from_relations,
                                    exclude,
                                )
                            )
                    if list_property:
                        attrs[key] = sorted({str(x) for x in v})
                else:
                    attrs[key] = v
            elif not only_props:
                neighbours[key] = _jsonld_walk(
                    state,
                    node_id if node_id is not None else source,
                    key if node_id is not None else f"{relation}.{key}",
                    attrs if node_id is not None else source_attrs,
                    v,
                    include_context,
                    type_handler,
                    types_from_relations,
                    exclude,
                )

    if node_type is None and types_from_relations:
        node_type = [relation] if relation is not None else None

    if node_id is not None:
        if isinstance(node_type, str):
            node_type = [node_type]
        rec = {"id": str(node_id)}
        if node_type:
            rec["type"] = sorted(str(t) for t in node_type)
        if context is not None:
            rec["context"] = str(context)
        for a, val in attrs.items():
            rec[a] = val
        state["nodes"].append(rec)
        for t, ns in neighbours.items():
            for el in ns if isinstance(ns, list) else [ns]:
                if el is not None:
                    state["edges"].append(
                        {"src": str(node_id), "dst": str(el), "type": [str(t)]}
                    )
    else:
        if len(neighbours) == 0 and source_attrs is not None:
            for a, val in attrs.items():
                source_attrs[f"{relation}.{a}"] = val
        else:
            for t, ns in neighbours.items():
                for el in ns if isinstance(ns, list) else [ns]:
                    if el is not None and source is not None:
                        state["edges"].append(
                            {"src": str(source), "dst": str(el), "type": [str(t)]}
                        )
    return node_id
