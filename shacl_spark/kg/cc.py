"""Connected-components canonicalization (SURVEY.md §2.A A10).

Hash-to-min label propagation: every vertex starts as its own label
(its IRI); each round every vertex takes the min label among itself
and its neighbors; converges in O(component diameter) rounds — entity
match graphs are near-cliques of name variants, so diameter is tiny.
Each round is one shuffle join + one aggregation; ``localCheckpoint``
truncates lineage per round (GraphFrames-style iterative joins,
BASELINE.json:6).  Deterministic: representative = lexicographic min
IRI, no randomness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shacl_spark.session import local_frame


def connected_components(
    edges: DataFrame,
    max_iter: int = 30,
    stats: dict | None = None,
    local_max_edges: int = 500_000,
) -> DataFrame:
    """edges DF[src, dst] (strings) → DF[id, component] where component
    is the min id in the weakly-connected component.

    Pass ``stats={}`` to record convergence observability (SCALING.md):
    ``stats['iterations']`` and ``stats['frontier']`` (labels changed
    per round — a 100× run's convergence is monitorable from the bench
    JSON).  Without it each round pays only a LIMIT-1 emptiness probe,
    not a full changed-count.

    Small graphs (≤ ``local_max_edges`` undirected edges) are solved
    by DRIVER-SIDE union-find instead of the iterative join loop
    (VERDICT r03 next-round #3): the match graph is O(distinct
    near-dup names) — orders of magnitude smaller than the corpus —
    and each distributed round costs several full-stage latencies to
    relabel a few hundred nodes.  Output is identical (component =
    lexicographic min id); the distributed loop remains the path for
    genuinely large graphs."""
    # materialize the edge pipeline exactly ONCE, then decide local vs
    # distributed from a free count over the checkpointed blocks (a
    # limit-probe re-ran Spark's incremental CollectLimit jobs and an
    # un-checkpointed count+collect re-ran the whole upstream pipeline
    # twice — both measured slower).  Union-find needs neither
    # symmetrization nor dedup, so the sym/dropDuplicates shuffle is
    # skipped entirely on the small path.
    edges_ck = edges.select("src", "dst").localCheckpoint(eager=True)
    if edges_ck.count() <= local_max_edges:
        pairs = [(r["src"], r["dst"]) for r in edges_ck.collect()]
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by label: keep the smaller id as root, so the
                # final root IS the component's lexicographic min
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        nodes = {n for ab in pairs for n in ab}
        rows = [(n, find(n)) for n in sorted(nodes)]
        if stats is not None:
            stats["iterations"], stats["frontier"] = 0, []
            stats["mode"] = "local-union-find"
            stats["nodes"], stats["edges"] = len(nodes), len(pairs)
        # a local relation, not a parallelized list: a Python-RDD scan
        # would run these rows through a Python worker in every job that
        # reads them (the edge write's broadcast of the component map)
        schema = T.StructType([
            T.StructField("id", T.StringType(), False),
            T.StructField("component", T.StringType(), False),
        ])
        return local_frame(edges.sparkSession, rows, schema)

    if stats is not None:
        stats["mode"] = "distributed-label-propagation"
    sym = edges_ck.unionByName(
        edges_ck.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.dropDuplicates(["src", "dst"]).localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )

    if stats is not None:
        stats["iterations"], stats["frontier"] = 0, []
    for i in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["dst"] == labels["id"], "inner")
            .select(F.col("src").alias("id"), F.col("label"))
            .groupBy("id")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        diff = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
        )
        changed = diff.count() if stats is not None else diff.limit(1).count()
        if stats is not None:
            stats["iterations"] = i + 1
            stats["frontier"].append(changed)
        labels = new_labels
        if changed == 0:
            return labels.select("id", F.col("label").alias("component"))
    raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")
