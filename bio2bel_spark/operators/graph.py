"""Knowledge-graph layer: BEL property multigraph as nodes/edges DataFrames.

Replaces the reference's driver-resident ``pybel.BELGraph``
(``/root/reference/src/bio2bel/manager/bel_manager.py:61-94``; edge qualifiers
per ``sources/intact.py:626-631``) with two distributed DataFrames whose
schemas are FIXTURES.md §9:

* ``nodes(dsl_type, namespace, identifier, name)`` (+ optional variants)
* ``edges(source_ns, source_id, relation, target_ns, target_id, citation,
  evidence, annotations, source_modifier, target_modifier)``

Multigraph semantics (SURVEY §7.4 hard part 2): node identity is
``(namespace, identifier)``; edge identity is the sha2 of endpoints +
relation + citation + annotations, so duplicate qualified edges are
well-defined for dedup/counting while plain duplicates keep multiplicity.

Everything here is a DataFrame transform, except behind the one size gate
(:mod:`bio2bel_spark.operators._local`): :func:`min_label_components`,
:func:`reachable` and the whole-graph ops of :class:`KnowledgeGraph`
(``summary``, ``connected_components``, ``degree_distribution``,
``edge_list``) collect an input at or below the gate and resolve it on the
driver, as the reference does from its in-memory ``BELGraph``
(``bel_manager.py:61-94``, ``compath/manager.py:384-394``), and a graph
over fixed rows keeps those collects for its later calls; anything
larger stays distributed (at 100 TB RAM is not an option). Each traversal
exists once: :func:`reachable` is the BFS behind
:meth:`KnowledgeGraph.descendants` and SPARQL's constant-endpoint closures,
:func:`_min_labels` is the one driver union-find, and
:func:`min_label_components` is the distributed components path.
"""

from __future__ import annotations

import warnings
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bio2bel_spark.operators._local import (
    collect_if_small,
    local_frame,
    rows_are_fixed,
    within_gate,
)

NODE_KEY = ["namespace", "identifier"]

EDGE_COLS = [
    "source_ns",
    "source_id",
    "relation",
    "target_ns",
    "target_id",
    "citation",
    "evidence",
    "annotations",
    "source_modifier",
    "target_modifier",
]


def node_key_col(prefix: str = "") -> F.Column:
    """Canonical string key for a node: ``namespace:identifier``."""
    return F.concat_ws(":", F.col(f"{prefix}namespace"), F.col(f"{prefix}identifier"))


def edge_key(edges: DataFrame) -> DataFrame:
    """Deterministic 64-hex edge identity over endpoints + qualifiers.

    Annotations (MapType) are serialized with sorted keys so the hash is
    order-independent (maps have no defined iteration order).
    """
    ann = (
        F.when(
            F.col("annotations").isNotNull(),
            F.concat_ws(
                ";",
                F.transform(
                    F.array_sort(F.map_keys(F.col("annotations"))),
                    lambda k: F.concat_ws("=", k, F.col("annotations")[k]),
                ),
            ),
        ).otherwise(F.lit(""))
        if "annotations" in edges.columns
        else F.lit("")
    )
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(""))
        for c in EDGE_COLS
        if c != "annotations" and c in edges.columns
    ]
    return edges.withColumn("edge_key", F.sha2(F.concat_ws("|", *parts, ann), 256))


def _propagate_min_labels(
    sym: DataFrame, labels: DataFrame, max_iterations: int
) -> DataFrame:
    """Min-label propagation: the distributed tier of
    :func:`min_label_components`, its only caller.

    ``sym`` is a symmetric ``(a, b)`` edge list; ``labels`` is the seed
    ``(node, label)`` assignment. Each iteration is one shuffle (groupBy on
    node); convergence is O(graph diameter). Lineage is truncated with
    ``localCheckpoint`` each round so plans don't grow unboundedly, and the
    improved flag rides through the checkpoint so the convergence test reads
    the materialized result instead of re-running the join.
    """
    # pre-partition the loop-invariant edge list on the probe key before
    # truncating its lineage: every propagation round then exchanges only
    # the label table, never the (big) edge side.
    sym = sym.repartition("b").localCheckpoint(eager=True)
    labels = labels.localCheckpoint(eager=True)

    def _step(lbls: DataFrame) -> DataFrame:
        neighbor_min = (
            sym.join(lbls.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("a", "node")
        )
        return lbls.join(neighbor_min, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
            (F.col("nmin") < F.col("label")).alias("_improved"),
        )

    # two propagation rounds per convergence check: the count() barrier is
    # the dominant per-round cost on shallow graphs (dup clusters, short
    # diameters), and a converged graph only wastes one no-op round — the
    # first step's lineage is truncated lazily inside the same job
    for _ in range(max(1, max_iterations // 2)):
        once = _step(labels).drop("_improved").localCheckpoint(eager=False)
        joined = _step(once).localCheckpoint(eager=True)
        changed = joined.filter(F.col("_improved")).limit(1).count()
        labels = joined.drop("_improved")
        if changed == 0:
            break
    else:
        # silent partial labels are worse than a loud approximation
        warnings.warn(
            f"min-label propagation did not converge in {max_iterations} "
            "iterations (graph diameter exceeds the budget); labels may "
            "merge further — raise max_iterations or use a star-contraction "
            "variant for long-chain graphs",
            RuntimeWarning,
            stacklevel=3,
        )
    return labels


def _min_labels(pairs) -> dict:
    """The driver union-find: ``{node: minimum node of its component}``
    for every node of an ``(a, b)`` pair in ``pairs``. A pair with a
    ``None`` end, or a self-loop, joins nothing and adds no node. The
    driver tier of :func:`min_label_components` and of the whole-graph
    ops of :class:`KnowledgeGraph`."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        if a is None or b is None or a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN so the root IS the min-label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def _local_components(nodes: list, edges: list) -> dict:
    """``{node key: component}`` of :meth:`KnowledgeGraph._collect_small`'s
    rows, by :func:`_min_labels` over the edges whose endpoint hashes are
    both declared: the driver tier of the components ops, with the Spark
    tier's minimum-hash labels."""
    declared = {h for _, h in nodes}
    labels = _min_labels(
        (a, b) for _, _, a, b, _ in edges if a in declared and b in declared
    )
    return {key: labels.get(h, h) for key, h in nodes}


def _not_null(*fields) -> T.StructType:
    """A schema of non-nullable ``(name, type)`` fields: a driver tier's
    result schema, equal to its Spark tier's."""
    return T.StructType([T.StructField(n, t, False) for n, t in fields])


def min_label_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components of an undirected pair list, labeled by the
    MINIMUM node value in each component.

    Returns ``(node, component)`` for every node that appears in ``pairs``;
    nodes absent from ``pairs`` are singletons and are simply not emitted
    (callers coalesce to the node's own id). Using the node value itself as
    the label (vs. a hash) makes the component id meaningful — for dedup it
    IS the surviving doc id.

    Adaptive tier (the AQE-style runtime pivot), by the shared size gate
    :func:`~bio2bel_spark.operators._local.collect_if_small`: at or below
    :data:`~bio2bel_spark.operators._local.DRIVER_ROWS` pairs the driver
    union-find :func:`_min_labels` resolves the components from ONE
    collect instead of per-iteration shuffle rounds (dedup batches: dozens
    of verified pairs, ~2 s of pure job latency saved per call). Above it
    the pair list is checkpointed once (the symmetrize union reads it
    twice) and the distributed min-label propagation runs; both tiers
    produce the identical min-label result.
    """
    pairs = pairs.select(src, dst)
    head = collect_if_small(pairs)
    if head is not None:
        labels = _min_labels((r[0], r[1]) for r in head)
        node_type = pairs.schema[src].dataType
        schema = T.StructType(
            [
                T.StructField("node", node_type),
                T.StructField("component", node_type),
            ]
        )
        return local_frame(pairs.sparkSession, list(labels.items()), schema)
    # distributed tier: materialize the pair list ONCE before symmetrizing —
    # the union reads `pairs` twice, and without this the whole upstream
    # pipeline (e.g. an LSH+verify chain) executes once per branch
    pairs = pairs.localCheckpoint(eager=True)
    sym = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    seeds = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    labels = _propagate_min_labels(sym, seeds, max_iterations)
    return labels.select("node", F.col("label").alias("component"))


def reachable(
    hop: DataFrame, starts: DataFrame, max_depth: int
) -> "tuple[DataFrame, bool]":
    """Zero-or-more reachability BFS: every ``node`` reached from
    ``starts(node)`` along ``hop(src, dst)`` in at most ``max_depth``
    rounds, plus whether the traversal converged within that bound. A
    null ``src``, ``dst`` or start is no node.

    Two tiers behind the shared size gate
    (:func:`~bio2bel_spark.operators._local.collect_if_small`), with the
    same rows and the same ``converged``:

    * **driver** — when ``hop`` fits the gate, it and ``starts`` are
      collected once, the BFS runs over a Python adjacency map and the
      reached set comes back as a local relation: two collects, whatever
      the depth (the reference walks the same subhierarchy in networkx,
      ``sources/go.py:106-122``).
    * **Spark** — otherwise ``hop`` is de-duplicated and pinned once. Each
      round broadcasts the frontier (the small side) into a join against
      ``hop``, anti-joins the result against the reached set and eagerly
      checkpoints the delta, so lineage stays O(1) deep and the emptiness
      test reads materialized data. The reached set is a flat union of
      pinned deltas, never re-materialized as a whole. Per-round state is
      the frontier, never the graph's pair closure.

    ``converged`` costs one extra probe round, run only when the bound is
    hit.
    """
    hop = hop.select("src", "dst").filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    starts = starts.select("node").filter(F.col("node").isNotNull())
    edges = collect_if_small(hop)
    if edges is not None:
        succ: dict = {}
        for src, dst in edges:
            succ.setdefault(src, []).append(dst)
        # the seeds (a caller's roots, or nodes of ``hop`` itself) are
        # collected whole and de-duplicated here: a Spark distinct would
        # add a shuffle job
        seen = dict.fromkeys(r[0] for r in starts.collect())

        def _next(level) -> dict:
            return dict.fromkeys(
                d for n in level for d in succ.get(n, ()) if d not in seen
            )

        level = list(seen)
        for _ in range(max_depth):
            level = _next(level)
            if not level:
                break
            seen.update(level)
        schema = T.StructType([starts.schema["node"]])
        frame = local_frame(starts.sparkSession, [(n,) for n in seen], schema)
        return frame, not level or not _next(level)

    def _new(frontier: DataFrame, reached: DataFrame) -> DataFrame:
        return (
            hop.join(F.broadcast(frontier.withColumnRenamed("node", "src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(reached, "node", "left_anti")
        )

    # pin the hop relation once, after the probe: every round joins it
    hop = hop.distinct().localCheckpoint(eager=True)
    reached = starts.distinct().localCheckpoint(eager=True)
    frontier = reached
    for _ in range(max_depth):
        new = _new(frontier, reached).localCheckpoint(eager=True)
        if new.limit(1).count() == 0:
            return reached, True
        reached = reached.union(new)
        frontier = new
    return reached, _new(frontier, reached).limit(1).count() == 0


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Distributed PageRank over a directed edge list: ``(node, rank)``.

    Power iteration with a fixed iteration budget — each round is one join
    (rank onto out-edges) plus one groupBy-sum shuffle keyed by destination,
    both map-side combinable; lineage is truncated per round with
    ``localCheckpoint`` so the plan stays O(1) deep. Degrees and the node
    set are computed once and reused across rounds.

    Simplified dangling-node handling: nodes without out-edges contribute
    nothing (their mass is not redistributed), which keeps every round a
    pure join+agg — pass a symmetrized edge list if the graph has sinks.
    Fixed iterations (not convergence detection) make the result
    deterministic and replayable in unrolled SQL.
    """
    from bio2bel_spark.operators.caching import tracked_persist

    # both loop-invariant sides are persisted PRE-PARTITIONED on their
    # join key (guide: operations keyed the same way share one exchange):
    # each round then exchanges only the rank table — the edge list, the
    # big side at scale, is never re-shuffled inside the loop.
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .repartition("node")
        .transform(tracked_persist)
    )
    n = nodes.count()
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("__deg"))
    ed = (
        edges.select(src, dst)
        .join(deg, src)
        .repartition(src)
        .transform(tracked_persist)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contribs = (
            ed.join(ranks.withColumnRenamed("node", src), src)
            .groupBy(F.col(dst).alias("node"))
            .agg(F.sum(F.col("rank") / F.col("__deg")).alias("__s"))
        )
        # lazy checkpoint: lineage is still truncated at materialization,
        # but rounds pipeline inside one job instead of paying a blocking
        # driver barrier each; with a fixed iteration budget there is no
        # convergence count that would force eager materialization
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.coalesce("__s", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


class KnowledgeGraph:
    """Distributed property multigraph.

    A graph over fixed rows (:func:`~bio2bel_spark.operators._local.rows_are_fixed`:
    local relations only, nothing non-deterministic) holds its driver-tier
    collects once taken, as the reference holds its ``BELGraph`` in memory:
    the rows live and die with this object (:meth:`_collect_small`).
    """

    def __init__(self, nodes: DataFrame, edges: DataFrame):
        self.nodes = nodes
        self.edges = edges
        # projection name -> (the frame it was collected from, its rows)
        self._held = {}

    # ------------------------------------------------------------------ algebra
    def union(self, other: "KnowledgeGraph") -> "KnowledgeGraph":
        """Graph merge (U2): nodes deduped by value, edges keep multiplicity
        (BELGraph add-edge semantics, reference ``sources/rhea.py:50-62``)."""
        nodes = (
            self.nodes.unionByName(other.nodes, allowMissingColumns=True)
            .dropDuplicates(NODE_KEY)
        )
        edges = self.edges.unionByName(other.edges, allowMissingColumns=True)
        return KnowledgeGraph(nodes, edges)

    def dedup_edges(self) -> "KnowledgeGraph":
        """Collapse exactly-duplicate qualified edges by edge identity."""
        return KnowledgeGraph(
            self.nodes, edge_key(self.edges).dropDuplicates(["edge_key"]).drop("edge_key")
        )

    def induced_nodes(self) -> DataFrame:
        """Node set implied by the edge endpoints (namespace, identifier)."""
        s = self.edges.select(
            F.col("source_ns").alias("namespace"), F.col("source_id").alias("identifier")
        )
        t = self.edges.select(
            F.col("target_ns").alias("namespace"), F.col("target_id").alias("identifier")
        )
        return s.unionByName(t).dropDuplicates(NODE_KEY)

    # ------------------------------------------------------ driver tier (G4)
    def _collect_small(self, with_nodes: bool = True):
        """The input of the whole-graph ops' driver tier, or ``None`` when
        a table is over the shared size gate
        (:func:`~bio2bel_spark.operators._local.collect_if_small`): one
        gated collect per table, the edge probe skipped when the nodes are
        already over.

        Returns ``(nodes, edges)``: node rows ``(key, hash)`` (``None``
        without ``with_nodes``) and edge rows ``(source key, target key,
        source hash, target hash, citation or None)``. Spark computes the
        ``xxhash64`` in the projection, so a driver label is the Spark
        tier's label bit for bit.

        A collect whose projection has fixed rows
        (:func:`~bio2bel_spark.operators._local.rows_are_fixed`) is held on
        this graph and answers later calls with no Spark job, while
        ``self.nodes`` or ``self.edges`` is still the frame it came from
        and its rows still fit the gate as set at that call; an over-gate
        ``None`` is never held. Held rows live as long as this object and
        are not Spark storage, so ``release_cached`` leaves them be. Any
        other graph collects on every call.
        """
        nodes = None
        if with_nodes:
            key = node_key_col()
            nodes = self._gated(
                "nodes", self.nodes, key.alias("node"), F.xxhash64(key).alias("h")
            )
            if nodes is None:
                return None
        src = F.concat_ws(":", "source_ns", "source_id")
        dst = F.concat_ws(":", "target_ns", "target_id")
        citation = (
            F.col("citation") if "citation" in self.edges.columns else F.lit(None)
        )
        edges = self._gated(
            "edges",
            self.edges,
            src.alias("src"),
            dst.alias("dst"),
            F.xxhash64(src).alias("a"),
            F.xxhash64(dst).alias("b"),
            citation.alias("citation"),
        )
        return None if edges is None else (nodes, edges)

    def _gated(self, name: str, frame: DataFrame, *columns):
        """The gated collect of ``frame.select(*columns)``, held under
        ``name`` when its rows are fixed (see :meth:`_collect_small`)."""
        held = self._held.get(name)
        if held is not None and held[0] is frame:
            return held[1] if within_gate(held[1]) else None
        projection = frame.select(*columns)
        rows = collect_if_small(projection)
        if rows is not None and rows_are_fixed(projection):
            self._held[name] = (frame, rows)
        return rows

    # ------------------------------------------------------------ summary (G4)
    def summary(self, with_components: bool = True) -> dict:
        """Graph summary stats matching the reference's published metrics
        (``sources/intact.py:174-190``): nodes (node rows), edges, distinct
        citations, components, density.

        At or below the size gate the counts come from the driver tier's
        two collects (:meth:`_collect_small`), components included, as the
        reference reads them off its in-memory ``BELGraph``. Above it each
        count is a Spark job (edge and citation counts share one aggregate)
        and components are :meth:`connected_components`' Spark tier.
        """
        small = self._collect_small()
        if small is not None:
            nodes, edges = small
            n_nodes, n_edges = len(nodes), len(edges)
            n_citations = len({e[4] for e in edges} - {None})
        else:
            n_nodes = self.nodes.count()
            citations = (
                F.countDistinct("citation")
                if "citation" in self.edges.columns
                else F.lit(0)
            )
            n_edges, n_citations = self.edges.agg(
                F.count(F.lit(1)), citations
            ).first()
        density = (
            float(n_edges) / (n_nodes * (n_nodes - 1)) if n_nodes > 1 else 0.0
        )
        out = {
            "nodes": n_nodes,
            "edges": n_edges,
            "citations": n_citations,
            "density": density,
        }
        if with_components:
            out["components"] = (
                len(set(_local_components(*small).values()))
                if small is not None
                else self._spark_components().select("component").distinct().count()
            )
        return out

    # ------------------------------------------------------ components (G4/G5)
    def connected_components(self, max_iterations: int = 50) -> DataFrame:
        """Connected components of the subgraph induced by the declared
        nodes.

        Returns ``(namespace, identifier, component)`` for every declared
        node key, where ``component`` is the minimum 64-bit node hash
        (``xxhash64`` of ``namespace:identifier``) in the component. An edge
        counts only when both endpoints are declared nodes; a node with no
        such edge is its own component. The key is split on its first
        ``:``, since identifiers may contain one (``GO:0001``).

        Two tiers with the same rows: at or below the size gate the
        driver union-find :func:`_min_labels` runs over the collected
        tables (:meth:`_collect_small`) and the rows come back as a local
        relation; above it the hashed pair list goes to
        :func:`min_label_components` (``max_iterations`` bounds its
        distributed rounds).
        """
        small = self._collect_small()
        if small is None:
            return self._spark_components(max_iterations)
        rows = []
        for key, component in _local_components(*small).items():
            ns, _, ident = key.partition(":")
            rows.append((ns, ident, component))
        return local_frame(
            self.nodes.sparkSession,
            rows,
            _not_null(
                ("namespace", T.StringType()),
                ("identifier", T.StringType()),
                ("component", T.LongType()),
            ),
        )

    def _spark_components(self, max_iterations: int = 50) -> DataFrame:
        """The Spark tier of :meth:`connected_components`."""
        nodes = (
            self.nodes.select(node_key_col().alias("node"))
            .dropDuplicates(["node"])
            .withColumn("h", F.xxhash64("node"))
        )
        declared = nodes.select("h")
        pairs = (
            self.edges.select(
                F.xxhash64(F.concat_ws(":", "source_ns", "source_id")).alias("a"),
                F.xxhash64(F.concat_ws(":", "target_ns", "target_id")).alias("b"),
            )
            .join(declared.withColumnRenamed("h", "a"), "a", "left_semi")
            .join(declared.withColumnRenamed("h", "b"), "b", "left_semi")
        )
        comp = min_label_components(pairs, "a", "b", max_iterations)
        labels = nodes.join(
            comp.withColumnRenamed("node", "h"), "h", "left"
        ).select("node", F.coalesce("component", "h").alias("component"))
        # identifiers may themselves contain ':' (e.g. 'GO:0001'), so split
        # only on the first separator
        ns = F.substring_index(F.col("node"), ":", 1)
        return labels.select(
            ns.alias("namespace"),
            F.expr("substring(node, length(substring_index(node, ':', 1)) + 2)").alias(
                "identifier"
            ),
            "component",
        )

    # ------------------------------------------------------ hierarchy BFS (G5)
    @staticmethod
    def descendants(
        edges: DataFrame,
        roots: DataFrame,
        child_col: str = "child",
        parent_col: str = "parent",
        max_depth: int = 30,
    ) -> DataFrame:
        """Subhierarchy traversal (``pyobo.get_subhierarchy`` usage,
        reference ``sources/go.py:106-122``): the roots and every node
        reachable downward from ``roots(node)`` via ``edges(child, parent)``
        within ``max_depth`` levels, by :func:`reachable` (a hierarchy
        within its size gate is walked on the driver, as the reference's
        networkx subhierarchy is). A null endpoint or root is no node.

        A hierarchy deeper than ``max_depth`` below a root returns the
        nodes within the bound and raises a ``RuntimeWarning``, in either
        tier.
        """
        hop = edges.select(
            F.col(parent_col).alias("src"), F.col(child_col).alias("dst")
        )
        reached, converged = reachable(hop, roots, max_depth)
        if not converged:
            warnings.warn(
                f"descendants did not converge in {max_depth} rounds "
                "(hierarchy depth exceeds the budget); the reached set is "
                "truncated — raise max_depth",
                RuntimeWarning,
                stacklevel=2,
            )
        return reached

    def degree_distribution(self) -> DataFrame:
        """Histogram of total (in+out) node degree over the endpoint keys of
        every edge: ``(degree, n_nodes)``.

        At or below the size gate the edge table alone is collected
        (:meth:`_collect_small`) and counted on the driver, as the
        reference computes per-node degrees in networkx RAM
        (``summary.py``-style stats). Above it: two aggregations, both
        map-side combinable; endpoint extraction is a projection of the
        edge table (nodes never materialize), a shape that survives any
        edge count.
        """
        small = self._collect_small(with_nodes=False)
        if small is not None:
            degree = Counter(key for e in small[1] for key in e[:2])
            return local_frame(
                self.edges.sparkSession,
                list(Counter(degree.values()).items()),
                _not_null(("degree", T.LongType()), ("n_nodes", T.LongType())),
            )
        ends = self.edges.select(
            F.concat_ws(":", "source_ns", "source_id").alias("node")
        ).unionAll(
            self.edges.select(
                F.concat_ws(":", "target_ns", "target_id").alias("node")
            )
        )
        deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
        return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))

    # ------------------------------------------------------------ exports (S15/S16)
    def triples(self) -> DataFrame:
        """(h, r, t) triples for ML interchange (PyKEEN TSV,
        reference ``io/automate.py:30-46`` / ``io/pykeen.py:39-50``)."""
        return self.edges.select(
            F.concat_ws(":", "source_ns", "source_id").alias("h"),
            F.col("relation").alias("r"),
            F.concat_ws(":", "target_ns", "target_id").alias("t"),
        )

    def node_index(self) -> DataFrame:
        """Stable node enumeration: sorted node keys → 0-based ids
        (``bel_manager.py:145-161``; O4 deterministic-ordering contract).

        Scale shape: a global ``row_number() OVER (ORDER BY node)`` funnels
        every node through ONE task. Instead the sort is range-partitioned:
        ``repartitionByRange`` splits the key space into ordered ranges,
        ``row_number`` runs per range (parallel), and each range's offset is
        the sum of the counts of the ranges before it — a partition-count-
        sized aggregate, broadcast back. The output ids are identical to the
        global window for any choice of range boundaries, so the enumeration
        stays deterministic while the sort scales with the cluster.
        """
        from bio2bel_spark.operators.ordering import enumerate_sorted

        distinct_nodes = (
            self.nodes.select(node_key_col().alias("node"))
            .dropDuplicates(["node"])
        )
        return enumerate_sorted(distinct_nodes, "node", "node_id")

    def edge_list(self) -> DataFrame:
        """Integer edge list ``(source_id, target_id)``: node ids number the
        sorted distinct node keys (:meth:`node_index`), and an edge is kept,
        with its multiplicity, when both endpoints are declared nodes (J8;
        the artifact the reference writes to disk at this point,
        ``bel_manager.py:145-161``).

        At or below the size gate the driver numbers the collected keys
        (:meth:`_collect_small`; Python's ``str`` order is Spark's UTF-8
        binary order) and pins nothing. Above it: two joins against the
        node index, which is persisted so the range-partitioned enumeration
        runs once instead of once per side."""
        small = self._collect_small()
        if small is not None:
            nodes, edges = small
            ids = {key: i for i, key in enumerate(sorted({key for key, _ in nodes}))}
            return local_frame(
                self.edges.sparkSession,
                [(ids[s], ids[t]) for s, t, *_ in edges if s in ids and t in ids],
                _not_null(("source_id", T.LongType()), ("target_id", T.LongType())),
            )
        from bio2bel_spark.operators.caching import tracked_persist

        idx = self.node_index().transform(tracked_persist)
        return (
            self.edges.select(
                F.concat_ws(":", "source_ns", "source_id").alias("src"),
                F.concat_ws(":", "target_ns", "target_id").alias("dst"),
            )
            .join(idx.withColumnRenamed("node", "src").withColumnRenamed("node_id", "source_id"), "src")
            .join(idx.withColumnRenamed("node", "dst").withColumnRenamed("node_id", "target_id"), "dst")
            .select("source_id", "target_id")
        )


def pathway_membership_to_edges(
    membership: DataFrame,
    pathway: DataFrame,
    protein: DataFrame,
    pathway_key: str = "pathway_id",
    protein_key: str = "protein_id",
) -> DataFrame:
    """Pathway→graph expansion (G3): one ``partOf`` edge per member protein
    (``compath/mixins.py:56-62``, full dump ``compath/manager.py:384-394``)
    as a single join plan."""
    return (
        membership.join(F.broadcast(pathway), pathway_key)
        .join(protein, protein_key)
        .select(
            F.lit("hgnc").alias("source_ns"),
            F.col("hgnc_id").alias("source_id"),
            F.lit("partOf").alias("relation"),
            F.col("prefix").alias("target_ns"),
            F.col("identifier").alias("target_id"),
            F.lit(None).cast("string").alias("citation"),
            F.lit(None).cast("string").alias("evidence"),
            F.lit(None).cast("map<string,string>").alias("annotations"),
            F.lit(None).cast("string").alias("source_modifier"),
            F.lit(None).cast("string").alias("target_modifier"),
        )
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count via degree-ordered edge orientation: one row
    ``(n_edges, n_wedges, n_triangles)``.

    The classic bounded-intermediate formulation (Schank & Wagner 2005; the
    MapReduce variant in Suri & Vassilvitskii 2011): orient every undirected
    edge from its lower-(degree, id) endpoint to the higher one, generate
    wedges only from each node's OUT-neighbors, and close them against the
    oriented edge set. Orientation caps out-degree at O(sqrt(m)) regardless
    of skew — a celebrity node with 10M followers contributes zero wedges
    from its in-edges — so the wedge join's intermediate is O(m^1.5) worst
    case instead of sum-of-squared-degrees. Three shuffles total (degree agg,
    wedge self-join, closing join); everything map-side combinable before
    each exchange.

    Input edges may be directed/duplicated; they are canonicalized to
    undistinct undirected pairs first. Self-loops are dropped.
    """
    from bio2bel_spark.operators.caching import tracked_persist

    a, b = F.col(src), F.col(dst)
    # und feeds the degree count, the orientation join and the final
    # tagged union; o feeds both wedge sides and the closing join — each
    # is O(m) and narrow, and without pinning every reference re-executes
    # the whole upstream (r14 plan audit: 64 duplicate scans / 130
    # Exchanges). Same persistence envelope as the components operator.
    und = (
        edges.select(
            F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(tracked_persist)
    )
    # both endpoints counted in ONE pass over und (explode), not a
    # union of two selects that would read it twice
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ranked = und.join(du, "u").join(dv, "v")
    # orient low (degree, id) -> high; (degree, id) is a total order
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("td"),
    ).transform(tracked_persist)
    x, y = o.alias("x"), o.alias("y")
    wedges = x.join(
        y,
        (F.col("x.s") == F.col("y.s"))
        & (
            (F.col("x.td") < F.col("y.td"))
            | (
                (F.col("x.td") == F.col("y.td"))
                & (F.col("x.t") < F.col("y.t"))
            )
        ),
    ).select(F.col("x.t").alias("s"), F.col("y.t").alias("t"))
    hit = wedges.join(
        o.select("s", "t").withColumn("__e", F.lit(1)), ["s", "t"], "left"
    )
    # one aggregation over a tagged union — no 1-row scalar joins in the plan
    tagged = und.select(
        F.lit(1).alias("is_e"), F.lit(0).alias("is_w"), F.lit(0).alias("is_t")
    ).unionAll(
        hit.select(
            F.lit(0).alias("is_e"),
            F.lit(1).alias("is_w"),
            F.coalesce(F.col("__e"), F.lit(0)).alias("is_t"),
        )
    )
    # coalesce: sum over ZERO rows is NULL, but an empty graph has 0 of
    # everything (and the SQL oracle's count(*) subqueries return 0)
    return tagged.agg(
        F.coalesce(F.sum("is_e"), F.lit(0)).cast("long").alias("n_edges"),
        F.coalesce(F.sum("is_w"), F.lit(0)).cast("long").alias("n_wedges"),
        F.coalesce(F.sum("is_t"), F.lit(0)).cast("long").alias("n_triangles"),
    )


def k_core(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
) -> DataFrame:
    """The ``k``-core of an undirected graph: the maximal subgraph where
    every node has degree >= ``k`` (Seidman 1983) — the standard coreness
    screen for graph cleaning (drop leaf chains / sparse fringe before
    community detection or embedding training).

    Iterative peeling: each round computes degrees (one map-side-combinable
    shuffle over the tagged endpoint union) and semi-joins the surviving
    node set back onto both endpoints; edges only ever shrink, and lineage
    is truncated per round with an eager ``localCheckpoint`` so the
    convergence test reads materialized data. Early-stops the round after
    nothing was removed; the peeled fixpoint is unique regardless of
    removal order, which is what makes an unrolled-SQL oracle twin exact.

    Input edges may be directed/duplicated; canonicalized to distinct
    undirected pairs, self-loops dropped. Returns ``(node, degree)`` for
    the k-core nodes with their degree INSIDE the core subgraph.
    """
    a, b = F.col(src), F.col(dst)
    cur = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = cur.count()

    def _deg(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    def _peel(e: DataFrame) -> DataFrame:
        # anti-join on the SUB-k node set, not semi-join on the survivors:
        # after the first round only a thin fringe peels away each pass, so
        # the join's built side is the small (often broadcastable) dropped
        # set instead of the nearly-full surviving node set — AQE picks the
        # strategy from the actual size either way, but only this
        # orientation ever gets a broadcast on a big graph.
        drop = _deg(e).filter(F.col("d") < k).select("n")
        return e.join(
            drop.withColumnRenamed("n", "u"), "u", "left_anti"
        ).join(drop.withColumnRenamed("n", "v"), "v", "left_anti")

    # two peel rounds per convergence barrier (same trade as
    # _propagate_min_labels): the count() is the dominant per-round cost
    # once the fringe is thin, and a converged graph wastes only one no-op
    # round over the already-shrunken edge set
    for _ in range(max(1, max_iterations // 2)):
        nxt = _peel(
            _peel(cur).localCheckpoint(eager=False)
        ).localCheckpoint(eager=True)
        n_next = nxt.count()
        cur = nxt
        if n_next == n_edges:
            break
        n_edges = n_next
    else:
        warnings.warn(
            f"k_core did not reach its fixpoint in {max_iterations} rounds; "
            "the defensive degree filter below keeps the output sound "
            "(every returned node HAS core degree >= k) but some nodes that "
            "further peeling would remove may remain — raise max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    return (
        _deg(cur)
        .filter(F.col("d") >= k)
        .select(F.col("n").alias("node"), F.col("d").cast("long").alias("degree"))
    )


def comembership_projection(
    membership: DataFrame,
    group_col: str,
    item_col: str,
    min_shared: int = 2,
    max_group: int = 1000,
) -> DataFrame:
    """Project a bipartite membership table onto an item-item co-occurrence
    graph: ``(item_a, item_b, n_shared)`` with ``item_a < item_b`` and
    ``n_shared`` = number of groups containing both (the ComPath
    pathway-overlap graph, term co-occurrence, co-purchase — all the same
    shape).

    The per-group self-join is quadratic IN THE GROUP, so group size is the
    scale knob: groups larger than ``max_group`` are excluded up front (a
    celebrity group with 10M members would alone emit 5·10^13 pairs).
    Dropped groups are counted in the plan via the size aggregate — callers
    needing an audit can diff ``n_dropped = groups - kept``. Size-1 groups
    are skipped too (they produce no pairs).
    """
    from bio2bel_spark.operators.caching import tracked_persist

    # consumed three times (size filter + both join sides) — persist the
    # distinct membership instead of re-scanning the input per consumer
    m = membership.select(
        F.col(group_col).alias("__g"), F.col(item_col).alias("__i")
    ).distinct().transform(tracked_persist)
    sizes = m.groupBy("__g").agg(F.count(F.lit(1)).alias("__sz"))
    kept = sizes.where(
        (F.col("__sz") >= 2) & (F.col("__sz") <= max_group)
    ).select("__g")
    mk = m.join(kept, "__g", "left_semi")
    a, b = mk.alias("a"), mk.alias("b")
    return (
        a.join(b, "__g")
        .where(F.col("a.__i") < F.col("b.__i"))
        .groupBy(
            F.col("a.__i").alias("item_a"), F.col("b.__i").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def k_hop_profile(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Neighborhood-growth profile: for every seed node, how many NEW nodes
    its undirected BFS frontier reaches at each hop — ``(seed, hop,
    n_new_nodes)`` for hops ``1..max_hops`` (rows stop early when a
    frontier empties). The per-node expansion-rate feature used for graph
    sampling curricula and influence screens.

    Same bounded-alternating-join shape as :func:`reachable` but tracked
    PER SEED: the frontier table carries ``(seed, node)`` pairs,
    one join + one anti-semantics dedup per hop, lineage truncated each
    round. Memory is O(Σ reached) — run it on a bounded seed set, not every
    node of a 100 TB graph.
    """
    from bio2bel_spark.operators.caching import tracked_persist

    a, b = F.col(src), F.col(dst)
    # persisted PRE-PARTITIONED on the probe key: each hop exchanges only
    # the frontier, never the (big) symmetric edge list.
    sym = (
        edges.select(a.alias("u"), b.alias("v"))
        .unionAll(edges.select(b.alias("u"), a.alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .repartition("u")
        .transform(tracked_persist)
    )
    seed_col = seeds.columns[0]
    frontier = seeds.select(F.col(seed_col).alias("seed")).withColumn(
        "node", F.col("seed")
    )
    visited = frontier.localCheckpoint(eager=True)
    frontier = visited
    out = []
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select("seed", F.col("v").alias("node"))
            .distinct()
            .join(visited, ["seed", "node"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        out.append(
            nxt.groupBy("seed").agg(
                F.lit(hop).alias("hop"),
                F.count(F.lit(1)).alias("n_new_nodes"),
            )
        )
        # flat union of pinned deltas — see reachable()
        visited = visited.unionByName(nxt)
        frontier = nxt
    if not out:
        return seeds.sparkSession.createDataFrame(
            [], "seed string, hop int, n_new_nodes long"
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res
