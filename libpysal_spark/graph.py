"""The spatial-weights graph as an edge-list DataFrame.

Mirrors the semantics of the reference's modern ``Graph`` class
(reference: graph/base.py:61-141): the entire state is one adjacency table
``(focal, neighbor, weight)`` with

- isolates encoded as zero-weight self-loops (graph/base.py:80-82,
  graph/_utils.py:248-272);
- a canonical deterministic ordering — here a global
  ``orderBy(focal, neighbor)`` applied only at materialization boundaries
  (Spark has no row order; ordering is a write-time property, required for
  cluster-size-invariant output per BASELINE north_rule);
- immutability — every method returns a new Graph over a new plan.

Transforms (graph/base.py:1860-1887), set operations (graph/_set_ops.py),
higher-order neighbors (graph/base.py:2274-2355), spatial lag
(graph/_spatial_lag.py) and describe (graph/base.py:2921-2989) are all
window/groupBy/join compositions — one hash shuffle by ``focal`` each, which
Catalyst reuses across consecutive stages partitioned the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

EDGE_COLS = ("focal", "neighbor", "weight")

# diagnostics from the last component_labels() run (rounds to convergence)
last_components_info: dict = {}


def zip_index(df: DataFrame, order_col: str = "id", out_col: str = "pos") -> DataFrame:
    """Append a 0-based dense index by ``order_col`` — distributed.

    The zipWithIndex pattern: range-partition by the key, rank WITHIN each
    partition (parallel windows), add per-partition cumulative offsets (one
    tiny collect bounded by the partition count). Output is deterministic
    regardless of sampled range boundaries: global position = partition
    offset + local rank over distinct keys. Never a single-partition sort.
    """
    parts = (
        df.repartitionByRange(order_col)
        .sortWithinPartitions(order_col)
        .withColumn("__pid", F.spark_partition_id())
    ).localCheckpoint()
    counts = {
        r["__pid"]: r["c"]
        for r in parts.groupBy("__pid").agg(F.count("*").alias("c")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    spark = df.sparkSession
    if not offsets:
        return df.withColumn(out_col, F.lit(0).cast("long")).limit(0)
    off_df = spark.createDataFrame(offsets, "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(order_col)
    return (
        parts.join(F.broadcast(off_df), "__pid")
        .withColumn(out_col, F.col("__off") + F.row_number().over(w) - 1)
        .drop("__pid", "__off")
    )


def canonicalize(edges: DataFrame) -> DataFrame:
    """Project to the edge schema and apply the canonical sort.

    Deterministic output order is a correctness requirement (north_rule:
    identical rows at N and 4N parallelism), mirroring the reference's
    stable sorts (graph/_utils.py:39-47).
    """
    return edges.select(
        F.col("focal"),
        F.col("neighbor"),
        F.col("weight").cast("double").alias("weight"),
    ).orderBy("focal", "neighbor")


def resolve_isolates(edges: DataFrame, ids: DataFrame, persist: bool = True) -> DataFrame:
    """Add zero-weight self-loops for ids with no edges.

    ``ids`` must have a single column ``id`` (the node universe).
    Reference: graph/_utils.py:248-272 ``_resolve_islands``.

    The result unions two branches over the same ``edges`` subtree (the edges
    themselves + the anti-join that finds isolates); without reuse Spark
    computes the upstream join twice. ``persist=True`` cuts the subtree with
    a LAZY local checkpoint: the first action materializes it once, both
    branches read the same blocks, and the blocks are reclaimed by Spark's
    context cleaner when the last derived plan is garbage-collected. The
    blocks are executor-local, not a reliable checkpoint: they are lost with
    their executor, and a job that still needs them then fails.

    r6: this replaces the r2-era ``persist()`` pinned to the owning Graph's
    lifetime. In the ubiquitous ``Graph(...).edges`` pattern the temporary
    Graph was collected BEFORE the first action ran, so the pin unpersisted
    the cache before it ever filled and every builder computed its candidate
    join TWICE — the round-start explain captures
    (plans/r06/*_before.txt) show the doubled subtree. Checkpoint lifetime
    follows the JVM plan references instead of the Python wrapper object,
    which is the semantics the pin was trying to approximate.
    """
    source = edges
    if persist:
        edges = edges.localCheckpoint(eager=False)
    isolates = (
        ids.join(edges.select(F.col("focal").alias("id")).distinct(), "id", "left_anti")
        .select(
            F.col("id").alias("focal"),
            F.col("id").alias("neighbor"),
            F.lit(0.0).alias("weight"),
        )
    )
    if persist:
        # r6 third pass: multi-consumer plans (transform D/V, describe, set
        # ops) re-ran the anti-join + focal-distinct once PER consumer of
        # .edges — the edge checkpoint covers the builder but not this
        # branch. The isolate set is tiny (usually empty): checkpoint it so
        # the distinct + anti-join run once per graph, ever. Materializes
        # with the edge checkpoint in the first action.
        isolates = isolates.localCheckpoint(eager=False)
    out = edges.select(*EDGE_COLS).unionByName(isolates)
    # the checkpoint hides the builder subtree from explain(); keep the
    # pre-checkpoint plan reachable for the plan-quality gates
    # (tests/test_plans.py) — it is the exact plan the checkpoint compiles.
    out._lps_source = source
    return out


def _real_edges(edges: DataFrame):
    """Filter out isolate self-loops (weight 0 on the diagonal)."""
    return edges.filter(~((F.col("focal") == F.col("neighbor")) & (F.col("weight") == 0.0)))


class Graph:
    """Immutable spatial-weights graph over an edge-list DataFrame.

    ``edges`` must have columns (focal, neighbor, weight); isolates already
    encoded as zero-weight self-loops (use :func:`resolve_isolates`).
    """

    def __init__(self, edges: DataFrame, transformation: str = "O"):
        self.edges = edges.select(*EDGE_COLS)
        self.transformation = transformation
        #: pre-checkpoint builder plan when built via resolve_isolates —
        #: explain() introspection only (the executed plan is its checkpoint)
        self.edges_source = getattr(edges, "_lps_source", None)

    # -- constructors -------------------------------------------------
    @classmethod
    def from_arrays(cls, spark, focal, neighbor, weight) -> "Graph":
        rows = list(zip(focal, neighbor, [float(w) for w in weight]))
        df = spark.createDataFrame(rows, schema="focal long, neighbor long, weight double")
        return cls(df)

    @classmethod
    def from_sparse(cls, spark, sparse, ids=None) -> "Graph":
        """COO/CSR sparse matrix -> Graph (reference: graph/base.py:357-376).

        ``sparse`` is any scipy-like sparse object exposing ``tocoo()`` (the
        COO carries .row/.col/.data/.shape) — duck-typed because scipy is not
        in this environment — or a ``(row, col, data, n)`` tuple. ``ids``
        maps matrix positions to labels (default: positions). Rows with no
        entries become isolates (zero-weight self-loops), matching
        resolve_isolates' encoding.
        """
        if isinstance(sparse, tuple):
            row, col, data, n = sparse
        else:
            coo = sparse.tocoo()
            row, col, data, n = coo.row, coo.col, coo.data, coo.shape[0]
        if ids is None:
            ids = list(range(n))
        # scipy COO semantics: duplicate (row, col) entries SUM (the
        # reference's from_sparse inherits this via scipy conversion) —
        # coalesce before building edges or duplicates double-count in
        # weight aggregations (ADVICE r4)
        agg: dict = {}
        for r, c, w in zip(row, col, data):
            if w != 0:
                k = (int(r), int(c))
                agg[k] = agg.get(k, 0.0) + float(w)
        rows = [
            (int(ids[r]), int(ids[c]), w)
            for (r, c), w in agg.items()
            if w != 0
        ]
        edges = spark.createDataFrame(
            rows or [], schema="focal long, neighbor long, weight double"
        )
        ids_df = spark.createDataFrame([(int(i),) for i in ids], "id long")
        return cls(resolve_isolates(edges, ids_df))

    @classmethod
    def from_dense(cls, spark, dense, ids=None) -> "Graph":
        """(N, N) numpy array -> Graph (reference: graph/base.py:378-400):
        nonzero entries are edges; bool arrays are cast to int weights."""
        import numpy as np

        dense = np.asarray(dense)
        if dense.dtype == bool:
            dense = dense.astype(int)
        r, c = np.nonzero(dense)
        return cls.from_sparse(
            spark, (r, c, dense[r, c], dense.shape[0]), ids=ids
        )

    def to_dense(self):
        """Dense (N, N) numpy matrix in dense-id order (reference:
        graph/base.py sparse/dense export; pairs with dense_id_mapping)."""
        import numpy as np

        mapping = {
            r.old: r.new for r in self.dense_id_mapping().collect()
        }
        n = len(mapping)
        out = np.zeros((n, n))
        for r in self.edges.collect():
            if r.focal == r.neighbor and r.weight == 0.0:
                continue
            out[mapping[r.focal], mapping[r.neighbor]] = r.weight
        return out, sorted(mapping, key=mapping.get)

    @classmethod
    def from_networkx(cls, spark, graph, weight_attr: str = "weight") -> "Graph":
        """networkx.Graph/DiGraph -> Graph (reference: graph/base.py:524-560).

        Import-gated: networkx is not in this environment's image; the
        adapter works wherever it is installed (driver-side, small graphs —
        the same contract as the reference's converter)."""
        try:
            import networkx as nx  # noqa: F401
        except ImportError as e:  # pragma: no cover - env without networkx
            raise ImportError(
                "from_networkx requires the networkx package on the driver"
            ) from e
        nodes = list(graph.nodes)
        rows = []
        for u, v, data in graph.edges(data=True):
            w = float(data.get(weight_attr, 1.0))
            rows.append((int(u), int(v), w))
            if not graph.is_directed():
                rows.append((int(v), int(u), w))
        edges = spark.createDataFrame(
            rows or [], schema="focal long, neighbor long, weight double"
        )
        ids_df = spark.createDataFrame([(int(n),) for n in nodes], "id long")
        return cls(resolve_isolates(edges, ids_df))

    @classmethod
    def from_dicts(cls, spark, neighbors: dict, weights: dict | None = None) -> "Graph":
        """Reference: graph/base.py:458 / weights/weights.py:134 dict form."""
        rows = []
        for f, nbrs in neighbors.items():
            ws = weights[f] if weights else [1.0] * len(nbrs)
            for n, w in zip(nbrs, ws):
                rows.append((f, n, float(w)))
            if not nbrs:
                rows.append((f, f, 0.0))
        df = spark.createDataFrame(rows, schema="focal long, neighbor long, weight double")
        return cls(df)

    # -- materialization ----------------------------------------------
    def sorted(self) -> DataFrame:
        return canonicalize(self.edges)

    def to_pandas(self):
        return self.sorted().toPandas()

    def neighbor_dicts(self) -> tuple[dict, dict]:
        """Collect to the legacy W dict-of-lists form (driver-side, small graphs).

        Reference: weights/weights.py:134 (neighbors/weights dicts).
        """
        pdf = self.to_pandas()
        neighbors: dict = {}
        weights: dict = {}
        for f, n, w in pdf.itertuples(index=False):
            if f == n and w == 0.0:
                neighbors.setdefault(f, [])
                weights.setdefault(f, [])
                continue
            neighbors.setdefault(f, []).append(n)
            weights.setdefault(f, []).append(w)
        return neighbors, weights

    # -- transforms (reference: graph/base.py:1827-1902) ---------------
    def transform(self, scheme) -> "Graph":
        """Weight transformation: one of the string schemes, or a CALLABLE
        mapping each focal group's weight Series to same-length transformed
        weights (reference graph/base.py:1883-1887: a callable is passed to
        ``adjacency.groupby(level=0).transform()`` and the result is labeled
        "C"). The callable runs per focal group via applyInPandas — one hash
        shuffle by focal, Arrow-batched; groups arrive sorted by neighbor so
        order-sensitive callables are deterministic."""
        if callable(scheme):
            fn = scheme

            # collect each focal's (neighbor, weight) list and run the
            # callable inside ONE batched pandas UDF — per-group
            # applyInPandas pays a full Arrow round-trip per tiny group
            # (measured 4x slower on band-degree groups); here thousands of
            # groups ride in each Arrow batch. Degree-bounded memory.
            @pandas_udf("array<double>")
            def _apply_fn(nw):
                import numpy as _np
                import pandas as _pd

                out = []
                for arr in nw:
                    w = _pd.Series([r["weight"] for r in arr], dtype=float)
                    out.append(
                        [float(v) for v in _np.asarray(fn(w), dtype=float)]
                    )
                return _pd.Series(out)

            grouped = self.edges.groupBy("focal").agg(
                F.array_sort(
                    F.collect_list(F.struct("neighbor", "weight"))
                ).alias("__nw")
            )
            out = (
                grouped.select(
                    "focal", F.explode(
                        F.arrays_zip(
                            F.col("__nw"), _apply_fn(F.col("__nw")).alias("__tw")
                        )
                    ).alias("__z")
                )
                .select(
                    "focal",
                    F.col("__z.__nw.neighbor").alias("neighbor"),
                    F.col("__z.__tw").alias("weight"),
                )
            )
            return Graph(out, "C")
        scheme = scheme.upper()
        e = self.edges
        if scheme == "O":
            return Graph(e, "O")
        if scheme == "B":
            out = e.withColumn(
                "weight",
                F.when(
                    (F.col("focal") == F.col("neighbor")) & (F.col("weight") == 0.0), 0.0
                ).otherwise((F.col("weight") != 0.0).cast("double")),
            )
            return Graph(out, "B")
        if scheme == "R":
            w = Window.partitionBy("focal")
            out = e.withColumn(
                "weight",
                F.when(F.sum("weight").over(w) == 0.0, 0.0).otherwise(
                    F.col("weight") / F.sum("weight").over(w)
                ),
            )
            return Graph(out, "R")
        if scheme == "D":
            # Global scalar via agg + broadcast cross join — a
            # Window.partitionBy() scalar would funnel the whole edge table
            # through ONE partition; the 2-row broadcast keeps the plan fully
            # parallel (BroadcastNestedLoopJoin over a 1-row build side).
            s0 = e.agg(F.sum("weight").alias("__s0"))
            out = (
                e.crossJoin(F.broadcast(s0))
                .withColumn("weight", F.col("weight") / F.col("__s0"))
                .drop("__s0")
            )
            return Graph(out, "D")
        if scheme == "V":
            # s_ij = w_ij / sqrt(sum_j w_ij^2), then scale by n / sum(s)
            # Reference: graph/base.py:1876-1881, weights/weights.py:1156-1174.
            # Per-focal norm stays a hash-partitioned window; the two global
            # scalars (n, sum s) are an agg broadcast back — no single-
            # partition exchange anywhere in the plan.
            wf = Window.partitionBy("focal")
            e2 = e.withColumn(
                "__s",
                F.when(F.sum(F.col("weight") ** 2).over(wf) == 0.0, 0.0).otherwise(
                    F.col("weight") / F.sqrt(F.sum(F.col("weight") ** 2).over(wf))
                ),
            )
            tot = e2.agg(
                F.countDistinct("focal").alias("__n"),
                F.sum("__s").alias("__st"),
            )
            out = (
                e2.crossJoin(F.broadcast(tot))
                .withColumn("weight", F.col("__s") * F.col("__n") / F.col("__st"))
                .drop("__s", "__n", "__st")
            )
            return Graph(out, "V")
        raise ValueError(f"unknown transformation {scheme!r}")

    # -- set operations (reference: graph/_set_ops.py) ------------------
    def _ids(self) -> DataFrame:
        return self.edges.select(F.col("focal").alias("id")).distinct()

    def union(self, other: "Graph") -> "Graph":
        """Binary union of link sets (graph/_set_ops.py:105-128)."""
        e = (
            _real_edges(self.edges)
            .select("focal", "neighbor")
            .unionByName(_real_edges(other.edges).select("focal", "neighbor"))
            .distinct()
            .withColumn("weight", F.lit(1.0))
        )
        return Graph(resolve_isolates(e, self._ids()))

    def intersection(self, other: "Graph") -> "Graph":
        e = (
            _real_edges(self.edges)
            .select("focal", "neighbor")
            .join(_real_edges(other.edges).select("focal", "neighbor"), ["focal", "neighbor"])
            .distinct()
            .withColumn("weight", F.lit(1.0))
        )
        return Graph(resolve_isolates(e, self._ids()))

    def difference(self, other: "Graph") -> "Graph":
        """Left anti join — edges in self not in other (graph/_set_ops.py:130-148)."""
        e = (
            _real_edges(self.edges)
            .select("focal", "neighbor")
            .join(
                _real_edges(other.edges).select("focal", "neighbor"),
                ["focal", "neighbor"],
                "left_anti",
            )
            .withColumn("weight", F.lit(1.0))
        )
        return Graph(resolve_isolates(e, self._ids()))

    def symmetric_difference(self, other: "Graph") -> "Graph":
        a = _real_edges(self.edges).select("focal", "neighbor")
        b = _real_edges(other.edges).select("focal", "neighbor")
        e = (
            a.join(b, ["focal", "neighbor"], "left_anti")
            .unionByName(b.join(a, ["focal", "neighbor"], "left_anti"))
            .withColumn("weight", F.lit(1.0))
        )
        return Graph(resolve_isolates(e, self._ids()))

    def issubgraph(self, other: "Graph") -> bool:
        extra = (
            _real_edges(self.edges)
            .select("focal", "neighbor")
            .join(
                _real_edges(other.edges).select("focal", "neighbor"),
                ["focal", "neighbor"],
                "left_anti",
            )
        )
        return extra.isEmpty()

    def equals(self, other: "Graph") -> bool:
        a, b = self.edges, other.edges
        return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    def isomorphic(self, other: "Graph", max_nodes: int = 256) -> bool:
        """Exact structural isomorphism for small graphs.

        Reference graph/_set_ops.py:187-207 delegates to networkx
        (could_be_isomorphic screens + VF2); no networkx in this env, so a
        from-scratch exact matcher: iterated 1-WL color refinement as the
        invariant screen (strictly stronger than the reference's degree/triad
        screens), then a backtracking search that maps nodes in smallest-
        color-class-first order with adjacency-consistency pruning. Matches
        the reference's semantics: the unweighted (binary) adjacency pattern,
        direction-aware. Driver-side by design — isomorphism is a whole-graph
        decision used on test-sized graphs; ``max_nodes`` guards the collect.
        """

        def load(g: "Graph"):
            rows = (
                _real_edges(g.edges).select("focal", "neighbor").distinct().collect()
            )
            ids = {r.id for r in g._ids().collect()}
            out: dict = {i: set() for i in ids}
            inn: dict = {i: set() for i in ids}
            for r in rows:
                out.setdefault(r.focal, set()).add(r.neighbor)
                inn.setdefault(r.neighbor, set()).add(r.focal)
                ids.add(r.focal)
                ids.add(r.neighbor)
            return ids, out, inn

        ids_a, out_a, in_a = load(self)
        ids_b, out_b, in_b = load(other)
        if len(ids_a) != len(ids_b):
            return False
        if len(ids_a) > max_nodes:
            raise ValueError(
                f"isomorphic() is driver-side and capped at {max_nodes} nodes"
            )

        def refine(ids, out, inn):
            color = {i: 0 for i in ids}
            for _ in range(len(ids)):
                sig = {
                    i: (
                        color[i],
                        tuple(sorted(color[j] for j in out.get(i, ()))),
                        tuple(sorted(color[j] for j in inn.get(i, ()))),
                    )
                    for i in ids
                }
                palette = {s: c for c, s in enumerate(sorted(set(sig.values())))}
                new = {i: palette[sig[i]] for i in ids}
                if len(set(new.values())) == len(set(color.values())):
                    return new
                color = new
            return color

        ca = refine(ids_a, out_a, in_a)
        cb = refine(ids_b, out_b, in_b)
        from collections import Counter

        if Counter(ca.values()) != Counter(cb.values()):
            return False

        by_color_b: dict = {}
        for i, c in cb.items():
            by_color_b.setdefault(c, []).append(i)
        order = sorted(ids_a, key=lambda i: (len(by_color_b[ca[i]]), ca[i], i))
        mapping: dict = {}
        used: set = set()

        def ok(u, v):
            for w, x in mapping.items():
                if (w in out_a.get(u, ())) != (x in out_b.get(v, ())):
                    return False
                if (u in out_a.get(w, ())) != (v in out_b.get(x, ())):
                    return False
            return True

        def search(k: int) -> bool:
            if k == len(order):
                return True
            u = order[k]
            for v in by_color_b[ca[u]]:
                if v not in used and ok(u, v):
                    mapping[u] = v
                    used.add(v)
                    if search(k + 1):
                        return True
                    del mapping[u]
                    used.discard(v)
            return False

        return search(0)

    def subgraph(self, ids: DataFrame) -> "Graph":
        """Restrict to an id subset; isolates re-encoded (graph/base.py:2708-2770).

        ``ids``: single-column DataFrame named ``id``.
        """
        e = (
            _real_edges(self.edges)
            .join(ids.withColumnRenamed("id", "focal"), "focal", "left_semi")
            .join(ids.withColumnRenamed("id", "neighbor"), "neighbor", "left_semi")
        )
        return Graph(resolve_isolates(e.select(*EDGE_COLS), ids))

    # -- symmetry (reference: graph/base.py:2039-2272) -------------------
    def symmetrize(self, method: str = "max") -> "Graph":
        """Union with reversed edges; conflicting weights reduced by ``method``."""
        rev = self.edges.select(
            F.col("neighbor").alias("focal"),
            F.col("focal").alias("neighbor"),
            F.col("weight"),
        )
        agg = {"max": F.max, "min": F.min, "sum": F.sum, "mean": F.avg}[method]
        e = (
            _real_edges(self.edges)
            .unionByName(_real_edges(rev))
            .groupBy("focal", "neighbor")
            .agg(agg("weight").alias("weight"))
        )
        return Graph(resolve_isolates(e, self._ids()))

    def asymmetry(self, intrinsic: bool = True) -> DataFrame:
        """Pairs (i, j) where w_ij != w_ji (graph/base.py:2039-2101).

        Full-outer self-join on the swapped key; missing reverse edge counts
        as weight 0.
        """
        a = _real_edges(self.edges)
        b = a.select(
            F.col("neighbor").alias("focal"),
            F.col("focal").alias("neighbor"),
            F.col("weight").alias("weight_rev"),
        )
        j = a.join(b, ["focal", "neighbor"], "full_outer").select(
            "focal",
            "neighbor",
            F.coalesce("weight", F.lit(0.0)).alias("weight"),
            F.coalesce("weight_rev", F.lit(0.0)).alias("weight_rev"),
        )
        if intrinsic:
            return j.filter(F.col("weight") != F.col("weight_rev")).select("focal", "neighbor")
        return j.filter(
            (F.col("weight") != 0.0) != (F.col("weight_rev") != 0.0)
        ).select("focal", "neighbor")

    # -- graph algebra ---------------------------------------------------
    def higher_order(
        self, k: int = 2, shortest_path: bool = True, lower_order: bool = False, diagonal: bool = False
    ) -> "Graph":
        """k-order neighbors via k-1 rounds of hash self-joins.

        Reference semantics: weights/util.py:400-553 / graph/base.py:2274-2355
        (sparse ``matrix_power``). Each round is
        ``E_k = E_{k-1} ⋈ E_1 on (E_{k-1}.neighbor == E_1.focal)`` + distinct;
        ``shortest_path`` anti-joins away pairs reachable at lower order.
        """
        base = _real_edges(self.edges).select("focal", "neighbor").distinct()
        powers = [base]
        cur = base
        for _ in range(k - 1):
            step = base.select(
                F.col("focal").alias("__mid"), F.col("neighbor").alias("neighbor")
            )
            cur = (
                cur.select("focal", F.col("neighbor").alias("__mid"))
                .join(step, "__mid")
                .select("focal", "neighbor")
                .distinct()
            )
            powers.append(cur)
        if lower_order:
            out = powers[0]
            for p in powers[1:]:
                out = out.unionByName(p).distinct()
        else:
            out = powers[-1]
            if shortest_path:
                for p in powers[:-1]:
                    out = out.join(p, ["focal", "neighbor"], "left_anti")
        if not diagonal:
            out = out.filter(F.col("focal") != F.col("neighbor"))
        e = out.withColumn("weight", F.lit(1.0))
        return Graph(resolve_isolates(e, self._ids()))

    def order_table(self, kmax: int | None = 3) -> DataFrame:
        """(focal, neighbor, order) — contiguity order up to kmax per pair.

        Reference: weights/util.py:339-397 ``order`` / :610-659 ``shimbel``
        (BFS per node). Distributed form: BFS rounds of frontier hash joins;
        round k's frontier is anti-joined against everything reached earlier,
        so each pair appears once at its shortest-path order.

        ``kmax=None`` runs to frontier exhaustion — the exact Shimbel table
        (all-pairs shortest contiguity orders; O(n²) OUTPUT, so meant for
        graphs whose pair table fits the cluster, like the reference's
        in-memory shimbel). One tiny count job per round checks emptiness;
        every round's frontier is localCheckpoint'ed, keeping lineage flat
        at any diameter.
        """
        base = (
            _real_edges(self.edges)
            .select("focal", "neighbor")
            .distinct()
            .localCheckpoint()
        )
        reached = base.withColumn("order", F.lit(1))
        frontier = base
        k = 2
        while kmax is None or k <= kmax:
            step = base.select(
                F.col("focal").alias("__mid"), F.col("neighbor").alias("neighbor")
            )
            nxt = (
                frontier.select("focal", F.col("neighbor").alias("__mid"))
                .join(step, "__mid")
                .select("focal", "neighbor")
                .filter(F.col("focal") != F.col("neighbor"))
                .distinct()
                .join(reached.select("focal", "neighbor"), ["focal", "neighbor"], "left_anti")
                .localCheckpoint()
            )
            if kmax is None and nxt.count() == 0:
                break
            reached = reached.unionByName(nxt.withColumn("order", F.lit(k)))
            frontier = nxt
            k += 1
        return reached

    def shimbel(self) -> DataFrame:
        """Exact all-pairs contiguity orders (reference weights/util.py:610-659
        ``shimbel``): :meth:`order_table` run to frontier emptiness."""
        return self.order_table(kmax=None)

    def dense_id_mapping(self) -> DataFrame:
        """(old, new) mapping to contiguous 0..n-1 ids, ordered by old id.

        The WSP/CSR bridge (reference: weights/weights.py:28-75
        ``_LabelEncoder``, WSP at :1463): a dense integer index for array
        backends, via the distributed :func:`zip_index` (range-partitioned
        ranks + cumulative offsets — never a single-partition sort).
        """
        return zip_index(self._ids(), "id", "new").select(
            F.col("id").alias("old"), F.col("new")
        )

    def assign_self_weight(self, weight: float = 1.0) -> "Graph":
        """Set w_ii = weight for every node (graph/base.py:2795-2872)."""
        diag = self._ids().select(
            F.col("id").alias("focal"),
            F.col("id").alias("neighbor"),
            F.lit(float(weight)).alias("weight"),
        )
        off = self.edges.filter(F.col("focal") != F.col("neighbor"))
        return Graph(off.unionByName(diag))

    def eliminate_zeros(self) -> "Graph":
        """Drop zero-weight edges except isolate loops (graph/base.py:2772-2793)."""
        e = self.edges.filter(
            (F.col("weight") != 0.0) | (F.col("focal") == F.col("neighbor"))
        )
        return Graph(e, self.transformation)

    # -- analytics (reference: graph/_spatial_lag.py, graph/base.py) -----
    def lag(
        self,
        y: DataFrame,
        value_col: str | list[str] = "y",
        deterministic: bool = False,
    ) -> DataFrame:
        """Spatial lag Wy as a join-aggregate SpMV.

        ``y``: DataFrame (id, value column(s)). A single column name returns
        (id, lag); a LIST of names returns (id, lag_<col>...) — the
        reference's 2-D ``y`` (weights/spatial_lag.py:16-88 dot-products each
        column; graph/_spatial_lag.py:5-96). All columns lag in ONE join +
        aggregate, not one pass per column.

        ``deterministic=True`` uses the sorted-fold sum (functions.detagg) so
        the result is bit-identical across cluster sizes / engines.
        """
        multi = not isinstance(value_col, str)
        cols = list(value_col) if multi else [value_col]
        yn = y.select(
            F.col("id").alias("neighbor"),
            *[F.col(c).alias(f"__y_{c}") for c in cols],
        )
        if deterministic:
            from libpysal_spark.functions.detagg import det_sum

            mk = det_sum
        else:
            mk = F.sum
        aggs = [
            mk(F.col("weight") * F.col(f"__y_{c}")).alias(f"lag_{c}" if multi else "lag")
            for c in cols
        ]
        return (
            self.edges.join(yn, "neighbor")
            .groupBy(F.col("focal").alias("id"))
            .agg(*aggs)
        )

    def lag_categorical(
        self,
        y: DataFrame,
        value_col: str = "y",
        ties: str = "lowest",
        seed: int = 7,
    ) -> DataFrame:
        """Modal neighbor category weighted by w (weights/spatial_lag.py:91-240).

        Tie policies (reference ``_resolve_ties``, spatial_lag.py:183-310 and
        graph/base.py:2357):

        - 'lowest' / 'highest': deterministic label order.
        - 'tryself': when the max tally is tied, the focal's OWN category
          gets a bonus equal to the mean neighbor weight, then the winner is
          re-picked. The self slot is bumped EVEN WHEN the focal's category
          is absent among its neighbors (a zero tally-slot, matching the
          reference's dense tally vector) — so a large mean weight can let
          the self category join or win the tie.
        - 'random': the reference default's RNG draw, made replayable — the
          tied winner is the minimum md5(focal|category|seed), the same
          portable-hash trick as knn_jitter (operators/distance.py), so the
          draw is identical across engines and cluster sizes (north_rule).
        - 'raise': error out when any neighborhood has a tied max tally
          (reference graph/base.py:2357 default).

        Residual ties after any policy resolve to the lowest label.
        """
        yn = y.select(F.col("id").alias("neighbor"), F.col(value_col).alias("__cat"))
        e = _real_edges(self.edges)
        counts = (
            e.join(yn, "neighbor")
            .groupBy("focal", "__cat")
            .agg(F.sum("weight").alias("__cnt"))
        )
        if ties == "tryself":
            # dense tally: a zero slot for the focal's own category competes
            # too (union before the bonus, then re-aggregate)
            selfcat = y.select(F.col("id").alias("focal"), F.col(value_col).alias("__self"))
            zero_self = (
                e.select("focal")
                .distinct()
                .join(selfcat, "focal")
                .select("focal", F.col("__self").alias("__cat"), F.lit(0.0).alias("__cnt"))
            )
            counts = (
                counts.unionByName(zero_self)
                .groupBy("focal", "__cat")
                .agg(F.sum("__cnt").alias("__cnt"))
            )
            wf = Window.partitionBy("focal")
            counts = counts.withColumn("__mx", F.max("__cnt").over(wf)).withColumn(
                "__ntied",
                F.sum(F.when(F.col("__cnt") == F.col("__mx"), 1).otherwise(0)).over(wf),
            )
            meanw = e.groupBy("focal").agg(F.avg("weight").alias("__mw"))
            counts = (
                counts.join(selfcat, "focal", "left")
                .join(meanw, "focal", "left")
                .withColumn(
                    "__cnt",
                    F.col("__cnt")
                    + F.when(
                        (F.col("__ntied") > 1) & (F.col("__cat") == F.col("__self")),
                        F.col("__mw"),
                    ).otherwise(0.0),
                )
            )
            order = [F.col("__cnt").desc(), F.col("__cat").asc()]
        elif ties == "random":
            draw = F.md5(
                F.concat_ws(
                    "|",
                    F.col("focal").cast("string"),
                    F.col("__cat").cast("string"),
                    F.lit(str(seed)),
                )
            )
            order = [F.col("__cnt").desc(), draw.asc(), F.col("__cat").asc()]
        elif ties == "raise":
            wf = Window.partitionBy("focal")
            tied = (
                counts.withColumn("__mx", F.max("__cnt").over(wf))
                .withColumn(
                    "__ntied",
                    F.sum(F.when(F.col("__cnt") == F.col("__mx"), 1).otherwise(0)).over(wf),
                )
                .filter(F.col("__ntied") > 1)
                .count()
            )
            if tied:
                raise ValueError(
                    f"lag_categorical(ties='raise'): {tied} tied tally rows — "
                    "pick an explicit tie policy"
                )
            order = [F.col("__cnt").desc(), F.col("__cat").asc()]
        else:
            order = [
                F.col("__cnt").desc(),
                F.col("__cat").asc() if ties == "lowest" else F.col("__cat").desc(),
            ]
        w = Window.partitionBy("focal").orderBy(*order)
        return (
            counts.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select(F.col("focal").alias("id"), F.col("__cat").alias("lag"))
        )

    def describe(
        self,
        y: DataFrame,
        value_col: str = "y",
        deterministic: bool = False,
        q: tuple[float, float] | None = None,
    ) -> DataFrame:
        """Per-focal stats of neighbor values (graph/base.py:2921-2989).

        Full reference stat set: count, mean, std, min, max, sum, nunique,
        median (exact, linear interpolation) and mode (most frequent value;
        ties resolved to the LOWEST value, matching the reference's
        ``_mode`` argmax over sorted uniques, graph/_utils.py:284-295).

        ``q=(lo, hi)`` applies the reference's percentile filtration
        (graph/_utils.py:297-307 ``_limit_range`` +
        :357-385 ``_percentile_filtration_grouper``): per neighborhood, keep
        only values within the interpolated [lo, hi] percentiles before
        aggregating; neighborhoods with <= 2 values are kept whole. The
        bounds are a groupBy + re-join on focal (hash-partitioned both
        sides), not a global window.

        ``deterministic=True`` computes mean/std/sum from sorted-fold sums
        (bit-identical across partitionings; std via the explicit
        (ss - n·m²)/(n-1) form, NULL for singleton groups).
        """
        yn = y.select(F.col("id").alias("neighbor"), F.col(value_col).alias("__y"))
        joined = _real_edges(self.edges).join(yn, "neighbor")
        if q is not None:
            lo, hi = float(q[0]) / 100.0, float(q[1]) / 100.0
            bounds = joined.groupBy("focal").agg(
                F.count("__y").alias("__qn"),
                F.percentile("__y", F.lit(lo)).alias("__qlo"),
                F.percentile("__y", F.lit(hi)).alias("__qhi"),
            )
            joined = (
                joined.join(bounds, "focal")
                .filter(
                    (F.col("__qn") <= 2)
                    | ((F.col("__y") >= F.col("__qlo")) & (F.col("__y") <= F.col("__qhi")))
                )
                .drop("__qn", "__qlo", "__qhi")
            )
        # mode: occurrence counts per (focal, value), lowest value wins ties
        mw = Window.partitionBy("focal").orderBy(F.col("__mc").desc(), F.col("__y").asc())
        mode = (
            joined.groupBy("focal", "__y")
            .agg(F.count("*").alias("__mc"))
            .withColumn("__rk", F.row_number().over(mw))
            .filter(F.col("__rk") == 1)
            .select(F.col("focal").alias("id"), F.col("__y").alias("mode"))
        )
        grouped = joined.groupBy(F.col("focal").alias("id"))
        if deterministic:
            from libpysal_spark.functions.detagg import det_sum

            base = grouped.agg(
                F.count("__y").alias("count"),
                det_sum("__y").alias("sum"),
                det_sum(F.col("__y") * F.col("__y")).alias("__ss"),
                F.min("__y").alias("min"),
                F.max("__y").alias("max"),
                F.countDistinct("__y").alias("nunique"),
                F.median("__y").alias("median"),
            )
            n = F.col("count").cast("double")
            m = F.col("sum") / n
            std = F.when(
                F.col("count") > 1,
                F.sqrt((F.col("__ss") - n * (m * m)) / (n - F.lit(1.0))),
            )
            base = base.select(
                "id", "count", m.alias("mean"), std.alias("std"),
                "min", "max", "sum", "nunique", "median",
            )
        else:
            base = grouped.agg(
                F.count("__y").alias("count"),
                F.avg("__y").alias("mean"),
                F.stddev_samp("__y").alias("std"),
                F.min("__y").alias("min"),
                F.max("__y").alias("max"),
                F.sum("__y").alias("sum"),
                F.countDistinct("__y").alias("nunique"),
                F.median("__y").alias("median"),
            )
        return base.join(mode, "id")

    def cardinalities(self) -> DataFrame:
        """Per-node degree; isolates → 0 (weights/weights.py:748, graph/base.py:1934)."""
        deg = (
            _real_edges(self.edges)
            .groupBy(F.col("focal").alias("id"))
            .agg(F.count("*").alias("cardinality"))
        )
        return (
            self._ids()
            .join(deg, "id", "left")
            .select("id", F.coalesce("cardinality", F.lit(0)).cast("long").alias("cardinality"))
        )

    def summary(self) -> DataFrame:
        """One-row DataFrame of (n, n_edges, s0, s1, s2, trcW2, trcWtW,
        trcWtW_WW).

        s0 = Σ w_ij; s1 = ½ Σ_ij (w_ij + w_ji)²;
        s2 = Σ_i (Σ_j w_ji + Σ_j w_ij)²  — reference weights/weights.py:610-737.

        Traces (reference weights/weights.py:669-737; doctest goldens at
        :109-116 — lat2W(100,100): trcW2 = trcWtW = 39600.0):
        trcW2 = tr(WW) = Σ_ij w_ij·w_ji  (inner self-join on the swapped key);
        trcWtW = tr(W'W) = Σ_ij w_ij²    (plain aggregate);
        trcWtW_WW = tr(W'W + WW) = trcWtW + trcW2.
        All are 2-hop join-aggregates over the edge list — the same shuffle
        shape as s1/s2, never a materialized matrix.
        """
        e = _real_edges(self.edges)
        rev = e.select(
            F.col("neighbor").alias("focal"),
            F.col("focal").alias("neighbor"),
            F.col("weight").alias("weight_rev"),
        )
        pair = e.join(rev, ["focal", "neighbor"], "full_outer").select(
            "focal",
            "neighbor",
            (F.coalesce("weight", F.lit(0.0)) + F.coalesce("weight_rev", F.lit(0.0))).alias("__s"),
            (F.coalesce("weight", F.lit(0.0)) * F.coalesce("weight_rev", F.lit(0.0))).alias("__p"),
        )
        s1 = pair.agg(
            (F.sum(F.col("__s") ** 2) / 2.0).alias("s1"),
            F.sum("__p").alias("trcW2"),
        )
        rows = e.groupBy(F.col("focal").alias("id")).agg(F.sum("weight").alias("__r"))
        cols = e.groupBy(F.col("neighbor").alias("id")).agg(F.sum("weight").alias("__c"))
        s2 = (
            rows.join(cols, "id", "full_outer")
            .select(
                (
                    (F.coalesce("__r", F.lit(0.0)) + F.coalesce("__c", F.lit(0.0))) ** 2
                ).alias("__rc")
            )
            .agg(F.sum("__rc").alias("s2"))
        )
        base = self.edges.agg(
            F.countDistinct("focal").alias("n"),
            F.sum(
                F.when(
                    (F.col("focal") == F.col("neighbor")) & (F.col("weight") == 0.0), 0
                ).otherwise(1)
            ).alias("n_edges"),
            F.sum("weight").alias("s0"),
        )
        wtw = e.agg(F.sum(F.col("weight") * F.col("weight")).alias("trcWtW"))
        out = base.crossJoin(s1).crossJoin(s2).crossJoin(wtw)
        return out.withColumn("trcWtW_WW", F.col("trcWtW") + F.col("trcW2"))

    def w_clip(self, other: "Graph") -> "Graph":
        """Elementwise multiply by the binary pattern of ``other``
        (weights/set_operations.py:389)."""
        b = _real_edges(other.edges).select("focal", "neighbor")
        e = _real_edges(self.edges).join(b, ["focal", "neighbor"], "left_semi")
        return Graph(resolve_isolates(e.select(*EDGE_COLS), self._ids()))

    def remap_ids(self, mapping: DataFrame) -> "Graph":
        """Relabel nodes via (old, new) mapping (weights/weights.py:868-925)."""
        mf = mapping.select(F.col("old").alias("focal"), F.col("new").alias("__nf"))
        mn = mapping.select(F.col("old").alias("neighbor"), F.col("new").alias("__nn"))
        e = (
            self.edges.join(mf, "focal")
            .join(mn, "neighbor")
            .select(
                F.col("__nf").alias("focal"),
                F.col("__nn").alias("neighbor"),
                F.col("weight"),
            )
        )
        return Graph(e, self.transformation)

    def neighbor_equality(self, other: "Graph") -> bool:
        """Set equality of neighbor sets (weights/util.py:1236-1286)."""
        a = _real_edges(self.edges).select("focal", "neighbor")
        b = _real_edges(other.edges).select("focal", "neighbor")
        return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    def _cc_driver_roots(self, e: DataFrame) -> DataFrame:
        """(id, component) for every FOCAL node of the (small) edge set ``e``
        — vectorized hash-min with pointer jumping over numpy index arrays.

        ``np.unique`` sorts ascending, so the minimum *index* in a component
        is the minimum *id* — identical labels to the alternating-star path.
        Each sweep is O(E) vectorized work and the label vector is monotone
        non-increasing, so the loop terminates; sweeps needed ~ O(log n)
        (pointer jumping halves label-chain depth every pass).

        ``e`` may contain self-loop rows (the isolate encoding): they are
        no-ops for the min-propagation and make the u side cover the full
        focal universe, so the output IS the complete label table — no
        join-back against a distinct-ids pass (r6 third pass: that join cost
        a full exchange + distinct over the edge checkpoint, ~2 s at sf0.1).
        A dangling neighbor-only id still propagates connectivity but gets no
        label row, exactly like the old ``_ids()`` left-join semantics.
        """
        import numpy as np

        pdf = e.toPandas()
        u = pdf["u"].to_numpy()
        v = pdf["v"].to_numpy()
        nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        ui, vi = inv[: len(u)], inv[len(u) :]
        lab = np.arange(len(nodes))
        while True:
            old = lab
            m = np.minimum(lab[ui], lab[vi])
            lab = lab.copy()
            np.minimum.at(lab, ui, m)
            np.minimum.at(lab, vi, m)
            nl = lab[lab]
            while not np.array_equal(nl, lab):
                lab, nl = nl, nl[nl]
            if np.array_equal(lab, old):
                break
        import pandas as pd

        focal = np.zeros(len(nodes), dtype=bool)
        focal[ui] = True
        out = pd.DataFrame({"id": nodes[focal], "component": nodes[lab][focal]})
        spark = e.sparkSession
        from pyspark.sql.types import StructField, StructType

        utype = e.schema["u"].dataType
        schema = StructType(
            [StructField("id", utype), StructField("component", utype)]
        )
        return spark.createDataFrame(out, schema=schema)

    def component_labels(
        self, max_iters: int = 60, driver_cap: int | None = None
    ) -> DataFrame:
        """(id, component) — connected components of the undirected pattern.

        Reference: scipy connected_components (weights/weights.py:549-569,
        graph/base.py:1904-1931). Distributed strategy: alternating
        large-star / small-star contraction (Kiveris et al., "Connected
        Components in MapReduce and Beyond", SoCC'14 — public algorithm):
        O(log^2 n) rounds w.h.p., each round two groupBy/join passes over the
        shrinking edge set, lineage cut by localCheckpoint. Local checkpoint
        blocks are executor-local: they are lost with their executor and are
        not a resume point. Deterministic: labels are component-min node
        ids.

        r6 — broadcast-scale gate (guide §3.1 analogue): the round loop costs
        ~3 exchanges + 1 driver-synchronous job PER ROUND regardless of data
        size, so when the deduped integer edge list is no bigger than a
        broadcast relation (``driver_cap`` rows, default 4M ≈ 64 MB of keys —
        env ``SPARK_GRAFT_CC_DRIVER_EDGES``) it is collected ONCE (Arrow) and
        labeled with a vectorized numpy hash-min / pointer-jumping sweep —
        the exact same min-id-per-component labels, recomputed from the
        inputs on every call (nothing is memoized). Above the cap — any
        corpus-scale graph — the alternating-star plan runs unchanged
        (rehearsed at 100x: 1.5M pts, 11 rounds). This is the same
        scale-adaptive pattern as a broadcast join or alpha_shape_auto's
        ``max_driver_tris``: the driver does bounded, size-gated work, never
        O(data) at scale.
        """

        def star(e: DataFrame, large: bool, dedup: bool = True) -> DataFrame:
            # r6 (guide §2.4): m = min over u's neighborhood is computed as a
            # whole-partition window over ONE exchange of the neighbor list,
            # instead of the old groupBy(min) + join-back — which cost two
            # exchanges per star (the aggregate's and the join side's) for
            # the same row flow. Skew profile is unchanged: a hot node's
            # rows land on one partition under either plan; the window's
            # per-group buffer is spillable.
            nbrs = e.unionByName(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            wu = Window.partitionBy("u")
            j = nbrs.withColumn(
                "m", F.least(F.min("v").over(wu), F.col("u"))
            )
            if large:
                # attach strictly-greater neighbors to u's min
                out = j.filter(F.col("v") > F.col("u")).select(
                    F.col("v").alias("u"), F.col("m").alias("v")
                )
            else:
                # the u -> m star edges: one row per u, deduped WITHOUT a new
                # exchange (input is already hash-distributed by u)
                out = (
                    j.filter(F.col("v") <= F.col("u"))
                    .select(F.col("v").alias("u"), F.col("m").alias("v"))
                    .unionByName(
                        j.select("u", "m")
                        .dropDuplicates(["u"])
                        .select(F.col("u"), F.col("m").alias("v"))
                    )
                )
            out = out.filter(F.col("u") != F.col("v"))
            # dedup is one full exchange; duplicates don't change any groupBy
            # min downstream, so it's skipped between the two stars of a
            # round and applied once per round (VERDICT r3 #7 — measured
            # ~-25% round wall at sf0.1)
            return out.distinct() if dedup else out

        # order-independent fixed-point signature: (row count, hash sum).
        # ONE aggregate instead of two full exceptAll sort-merge joins per
        # round; the contraction is monotone, so a stable signature means a
        # stable edge set (collision odds ~2^-90, and max_iters caps the loop
        # regardless).
        row_hash = F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_007))

        def _sig(df: DataFrame) -> tuple:
            r = df.agg(F.count("*").alias("c"), F.sum(row_hash).alias("h")).first()
            return (r["c"], r["h"])

        # LAZY checkpoints (r6): the signature aggregate is a full scan, so it
        # materializes the checkpoint in the SAME job — one driver-synchronous
        # job per round instead of two (eager checkpoint + sig). Lineage is
        # still cut at every round.
        #
        # r6 third pass: self-loop rows (the isolate encoding) are KEPT in
        # the deduped set — they are no-ops for connectivity but make the u
        # side cover the full focal universe, which lets the driver gate
        # return labels straight from the numpy sweep with no join-back
        # (the old ``_ids()`` left-join cost a second full exchange +
        # distinct over the edge checkpoint). The distributed path filters
        # them back out below (same checkpoint blocks, no recompute).
        e = (
            self.edges
            .select(F.col("focal").alias("u"), F.col("neighbor").alias("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # the driver gate counts every row; the star loop starts from the
        # signature of the self-loop-filtered set it iterates on — both from
        # the one aggregate
        real = F.col("u") != F.col("v")
        r0 = e.agg(
            F.count("*").alias("n"),
            F.count(F.when(real, 1)).alias("c"),
            F.sum(F.when(real, row_hash)).alias("h"),
        ).first()
        n_rows, prev = r0["n"], (r0["c"], r0["h"])

        if driver_cap is None:
            import os

            driver_cap = int(
                os.environ.get("SPARK_GRAFT_CC_DRIVER_EDGES", "4000000")
            )
        int_ids = dict(e.dtypes).get("u") in ("tinyint", "smallint", "int", "bigint")
        if int_ids and 0 < n_rows <= driver_cap:
            roots = self._cc_driver_roots(e)
            global last_components_info
            last_components_info = {
                "rounds": 0,
                "max_iters": max_iters,
                "driver_path": True,
                "edges": int(n_rows),
            }
            return roots

        # distributed path: drop the self-loop rows before the star loop — a
        # narrow filter over the already-checkpointed blocks
        e = e.filter(real)
        rounds = 0
        for _ in range(max_iters):
            rounds += 1
            # one checkpoint per round: the large-star stage stays lazy inside
            # the small-star job (lineage depth stays bounded at 2 stars)
            e2 = star(star(e, large=True, dedup=False), large=False).localCheckpoint(
                eager=False
            )
            cur = _sig(e2)
            if cur == prev:
                # exact confirmation, only at apparent convergence (ADVICE
                # r2): a hash collision or oscillating intermediate state
                # must not end the loop silently. Counts already match, so
                # ONE empty exceptAll direction proves set equality — a
                # single extra job on the final (smallest) edge set.
                exact = e2.exceptAll(e).limit(1).count() == 0
                e.unpersist()
                e = e2
                if exact:
                    break
            else:
                e.unpersist()
                e = e2
            prev = cur
        last_components_info = {"rounds": rounds, "max_iters": max_iters}
        # converged edge set is a union of stars (child -> root)
        roots = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
        return (
            self._ids()
            .join(roots, "id", "left")
            .select("id", F.coalesce("component", F.col("id")).alias("component"))
        )

    def n_components(self) -> int:
        return self.component_labels().select("component").distinct().count()

    def local_clustering(self) -> DataFrame:
        """Local clustering coefficient (weights/util.py:556-607):
        |{(j,k) edges with j,k in N(i)}| / (k_i * (k_i - 1)).

        Triangle counting as a 2-hop join: edges (i,j) x edges (i,k) semi-
        joined against the edge set on (j,k).
        """
        # localCheckpoint (not persist): materialized once for the three
        # consumers below, and the blocks are GC-reclaimed when the plan is
        # dropped — persist() would pin the cache for the session lifetime
        # (a leak across a long multi-query battery).
        e = _real_edges(self.edges).select("focal", "neighbor").distinct().localCheckpoint()
        deg = e.groupBy(F.col("focal").alias("id")).agg(F.count("*").alias("__k"))
        jk = (
            e.select(F.col("focal").alias("i"), F.col("neighbor").alias("j"))
            .join(e.select(F.col("focal").alias("i"), F.col("neighbor").alias("k")), "i")
            .filter(F.col("j") != F.col("k"))
        )
        tri = (
            jk.join(
                e.select(F.col("focal").alias("j"), F.col("neighbor").alias("k")),
                ["j", "k"],
                "left_semi",
            )
            .groupBy(F.col("i").alias("id"))
            .agg(F.count("*").alias("__t"))
        )
        return (
            self._ids()
            .join(deg, "id", "left")
            .join(tri, "id", "left")
            .select(
                "id",
                F.when(
                    F.coalesce("__k", F.lit(0)) > 1,
                    F.coalesce("__t", F.lit(0)) / (F.col("__k") * (F.col("__k") - 1)),
                )
                .otherwise(F.lit(0.0))
                .alias("clustering"),
            )
        )

    def apply_neighborhoods(self, y: DataFrame, func, schema: str, value_col: str = "y") -> DataFrame:
        """Arbitrary pandas reduction over each focal's neighbor values.

        Reference: graph/base.py:2874-2919 ``apply``/``aggregate`` — the
        user-defined-aggregation surface. ``func(pdf) -> pdf`` receives one
        focal group (columns: focal, neighbor, weight, y) as pandas;
        ``schema`` is the output schema. Runs as ``applyInPandas`` — Arrow
        batches, one shuffle by focal.
        """
        yn = y.select(F.col("id").alias("neighbor"), F.col(value_col).alias("y"))
        joined = _real_edges(self.edges).join(yn, "neighbor")
        return joined.groupBy("focal").applyInPandas(func, schema)

    # -- adjacency-list tools (reference: weights/adjtools.py) ------------
    def adjlist(self, drop_islands: bool = True) -> DataFrame:
        """(focal, neighbor, weight) adjacency-list view
        (reference: weights/weights.py ``to_adjlist``, adjtools._get_W_and_alist)."""
        e = _real_edges(self.edges) if drop_islands else self.edges
        return e.select(*EDGE_COLS)

    def adjlist_apply(self, y: DataFrame, func=None, value_col: str = "y") -> DataFrame:
        """Apply a two-argument function to each (focal attr, neighbor attr) pair.

        Reference: weights/adjtools.py:6-127 ``adjlist_apply`` — SURVEY notes
        that file "is literally the Spark plan written in pandas": two
        attribute joins + a per-row expression. ``func`` takes two Columns and
        returns a Column (default: subtraction, the reference's np.subtract
        default); the whole thing stays in whole-stage codegen.

        Returns (focal, neighbor, weight, att_focal, att_neighbor, result).
        """
        if func is None:
            func = lambda f, n: f - n  # noqa: E731  (reference default np.subtract)
        yf = y.select(F.col("id").alias("focal"), F.col(value_col).alias("att_focal"))
        yn = y.select(F.col("id").alias("neighbor"), F.col(value_col).alias("att_neighbor"))
        return (
            _real_edges(self.edges)
            .join(yf, "focal")
            .join(yn, "neighbor")
            .select(
                "focal", "neighbor", "weight", "att_focal", "att_neighbor",
                func(F.col("att_focal"), F.col("att_neighbor")).alias("result"),
            )
        )

    def adjlist_map(self, data: DataFrame, funcs=None, value_cols: list[str] | None = None) -> DataFrame:
        """Map one function per attribute column over the adjacency list.

        Reference: weights/adjtools.py:157-228 ``adjlist_map``. One pair of
        joins total (NOT one per column, unlike the reference's loop) — all
        per-column expressions evaluate in the same projection. Output columns
        are named ``apply_<col>``.
        """
        value_cols = value_cols or [c for c in data.columns if c != "id"]
        if funcs is None or callable(funcs):
            one = funcs or (lambda f, n: f - n)
            funcs = [one] * len(value_cols)
        yf = data.select(
            F.col("id").alias("focal"),
            *[F.col(c).alias(f"__f_{c}") for c in value_cols],
        )
        yn = data.select(
            F.col("id").alias("neighbor"),
            *[F.col(c).alias(f"__n_{c}") for c in value_cols],
        )
        joined = _real_edges(self.edges).join(yf, "focal").join(yn, "neighbor")
        outs = [
            fn(F.col(f"__f_{c}"), F.col(f"__n_{c}")).alias(f"apply_{c}")
            for fn, c in zip(funcs, value_cols)
        ]
        return joined.select("focal", "neighbor", "weight", *outs)

    @classmethod
    def from_adjacency(
        cls, adj: DataFrame, focal_col: str = "focal", neighbor_col: str = "neighbor",
        weight_col: str | None = None,
    ) -> "Graph":
        """Build from any adjacency-shaped DataFrame (graph/base.py:315).

        Also the travel-cost ingestion path (graph/_network.py:27
        ``pdna_to_adj``): a nodes-within-range table IS an adjacency list.
        """
        w = (
            F.col(weight_col).cast("double")
            if weight_col
            else F.lit(1.0)
        )
        e = adj.select(
            F.col(focal_col).alias("focal"),
            F.col(neighbor_col).alias("neighbor"),
            w.alias("weight"),
        )
        ids = e.select(F.col("focal").alias("id")).distinct()
        return cls(resolve_isolates(e.filter(F.col("focal") != F.col("neighbor")), ids))

    def filter_adjlist(self, adjlist: DataFrame | None = None) -> DataFrame:
        """Deduplicate an adjacency list to one row per undirected pair.

        Reference: weights/adjtools.py:230-268 ``filter_adjlist`` (keeps the
        first-encountered direction in iteration order; Spark has no row
        order, so the canonical direction is pinned to (min, max) — an edge
        (b, a) with b > a survives only when its mirror (a, b) is absent).
        """
        al = adjlist if adjlist is not None else self.adjlist()
        lower = al.filter(F.col("focal") <= F.col("neighbor"))
        mirrored = lower.select(
            F.col("neighbor").alias("focal"), F.col("focal").alias("neighbor")
        )
        upper_only = al.filter(F.col("focal") > F.col("neighbor")).join(
            mirrored, ["focal", "neighbor"], "left_anti"
        )
        return lower.unionByName(upper_only)

    def islands(self) -> DataFrame:
        """Ids encoded as isolates (zero-weight self loops)."""
        return self.edges.filter(
            (F.col("focal") == F.col("neighbor")) & (F.col("weight") == 0.0)
        ).select(F.col("focal").alias("id"))

    # -- reference-name compatibility surface ---------------------------
    # The reference exposes these exact names on Graph (graph/base.py
    # public API); each delegates to the engine's native machinery so a
    # libpysal user's code runs name-for-name. Builders import lazily to
    # avoid module cycles (operators import Graph from here).

    @property
    def n(self) -> int:
        """Number of nodes (reference graph/base.py ``n``)."""
        return self._ids().count()

    @property
    def n_nodes(self) -> int:
        return self.n

    @property
    def n_edges(self) -> int:
        return _real_edges(self.edges).count()

    @property
    def pct_nonzero(self) -> float:
        """Percentage of nonzero weights in the dense view (reference
        weights/weights.py ``pct_nonzero``)."""
        n = self.n
        return 100.0 * self.n_edges / (n * n) if n else 0.0

    def nonzero(self) -> int:
        return self.n_edges

    @property
    def isolates(self) -> DataFrame:
        """Reference name for :meth:`islands`."""
        return self.islands()

    @property
    def unique_ids(self) -> DataFrame:
        return self._ids()

    def index_pairs(self) -> DataFrame:
        """(focal, neighbor) pairs of real edges (reference ``index_pairs``)."""
        return _real_edges(self.edges).select("focal", "neighbor")

    @property
    def neighbors(self) -> dict:
        """Driver-side dict-of-lists view (reference adjacency accessor)."""
        return self.neighbor_dicts()[0]

    @property
    def weights(self) -> dict:
        return self.neighbor_dicts()[1]

    @property
    def adjacency(self) -> DataFrame:
        """The adjacency table itself (reference returns a pandas Series;
        the engine's native form is the edge DataFrame)."""
        return self.edges

    def copy(self) -> "Graph":
        return Graph(self.edges, self.transformation)

    def make_symmetric(self) -> "Graph":
        """Reference name for :meth:`symmetrize` (max policy)."""
        return self.symmetrize("max")

    def aggregate(self, y: DataFrame, func, schema: str, value_col: str = "y") -> DataFrame:
        """Reference ``aggregate`` — see :meth:`apply_neighborhoods`."""
        return self.apply_neighborhoods(y, func, schema, value_col)

    def apply(self, y: DataFrame, func, schema: str, value_col: str = "y") -> DataFrame:
        """Reference ``apply`` — see :meth:`apply_neighborhoods`."""
        return self.apply_neighborhoods(y, func, schema, value_col)

    def to_networkx(self, directed: bool = False):
        """Graph -> networkx (reference graph/base.py ``to_networkx``).

        Import-gated like :meth:`from_networkx` (driver-side, small graphs)."""
        try:
            import networkx as nx
        except ImportError as e:  # pragma: no cover - env without networkx
            raise ImportError(
                "to_networkx requires the networkx package on the driver"
            ) from e
        g = nx.DiGraph() if directed else nx.Graph()
        for f, n, w in self.edges.collect():
            if f == n and w == 0.0:
                g.add_node(f)
            else:
                g.add_edge(f, n, weight=w)
        return g

    def to_gal(self, path: str) -> None:
        from libpysal_spark.io.weights_io import write_gal

        write_gal(self, path)

    def to_gwt(self, path: str) -> None:
        from libpysal_spark.io.weights_io import write_gwt

        write_gwt(self, path)

    def to_parquet(self, path: str) -> None:
        from libpysal_spark.io.weights_io import write_parquet

        write_parquet(self, path)

    # -- reference build_* constructors --------------------------------
    @classmethod
    def build_contiguity(cls, polygons: DataFrame, rook: bool = False) -> "Graph":
        from libpysal_spark.operators import contiguity as C

        return C.rook(polygons) if rook else C.queen(polygons)

    @classmethod
    def build_block_contiguity(cls, labels: DataFrame, **kw) -> "Graph":
        from libpysal_spark.operators.contiguity import block_weights

        return block_weights(labels, **kw)

    @classmethod
    def build_fuzzy_contiguity(cls, polygons: DataFrame, cell_size: float) -> "Graph":
        from libpysal_spark.operators.contiguity import fuzzy_contiguity

        return fuzzy_contiguity(polygons, cell_size)

    @classmethod
    def build_knn(cls, points: DataFrame, k: int, **kw) -> "Graph":
        from libpysal_spark.operators.distance import knn

        return knn(points, k, **kw)

    @classmethod
    def build_distance_band(cls, points: DataFrame, threshold: float, **kw) -> "Graph":
        from libpysal_spark.operators.distance import distance_band

        return distance_band(points, threshold, **kw)

    @classmethod
    def build_kernel(cls, points: DataFrame, bandwidth: float, kernel: str = "gaussian", **kw) -> "Graph":
        from libpysal_spark.operators.distance import kernel_weights

        return kernel_weights(points, bandwidth, kernel, **kw)

    @classmethod
    def build_triangulation(cls, points: DataFrame, method: str = "delaunay", **kw) -> "Graph":
        if method == "delaunay":
            from libpysal_spark.operators.delaunay import delaunay

            return delaunay(points, **kw)
        if method == "gabriel":
            from libpysal_spark.operators.triangulation import gabriel

            return gabriel(points, **kw)
        if method == "relative_neighborhood":
            from libpysal_spark.operators.triangulation import relative_neighborhood

            return relative_neighborhood(points, **kw)
        raise ValueError(f"unknown triangulation method {method!r}")

    @classmethod
    def build_raster_contiguity(cls, cells: DataFrame, nrows: int, ncols: int, criterion: str = "rook", **kw) -> "Graph":
        from libpysal_spark.operators.raster import raster_contiguity

        return raster_contiguity(cells, nrows, ncols, criterion, **kw)

    @classmethod
    def build_h3(cls, cells: DataFrame, **kw) -> "Graph":
        from libpysal_spark.operators.cellgraph import cell_graph

        return cell_graph(cells, **kw)

    @classmethod
    def build_spatial_matches(cls, points: DataFrame, n_matches: int = 1) -> "Graph":
        from libpysal_spark.operators.matching import spatial_matching

        return spatial_matching(points, n_matches)

    @classmethod
    def build_travel_cost(cls, edges: DataFrame, origins: DataFrame, threshold: float) -> "Graph":
        """Routed travel-cost weights (reference build_travel_cost):
        threshold-bounded shortest-path neighbors over a directed network."""
        from libpysal_spark.operators.network import nodes_in_range

        out = nodes_in_range(edges, origins, threshold).filter(
            F.col("origin") != F.col("destination")
        )
        pairs = out.select(
            F.col("origin").alias("focal"),
            F.col("destination").alias("neighbor"),
            F.col("cost").alias("weight"),
        )
        return Graph(
            resolve_isolates(pairs, origins.select(F.col("id")))
        )
