"""Iterative graph operators on DataFrames: connected components.

Dedup pipelines need the *transitive closure* of pairwise near-duplicate
matches: if A~B and B~C, all three are one duplicate cluster even when
A~C never scored above threshold. That closure is a connected-components
computation over the match graph.

Spark has no recursive-query primitive (the DuckDB oracle uses WITH
RECURSIVE). A small edge list is closed on the driver by union-find; a
large one by alternating large-star/small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14), whose
round count is set by the node count, not by the graph's diameter -- so
a long chain converges as fast as a dense cluster. ``localCheckpoint``
truncates the plan lineage each round so the plan does not grow with
the iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: contraction rounds before the loop gives up without a fixpoint
_MAX_ROUNDS = 50
#: rounds between fixpoint probes (each probe is the round's only job)
_CHECK_EVERY = 2


def _union_find_local(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side union-find with path compression; component = min id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the root IS the canonical representative
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def _flip(e: DataFrame) -> DataFrame:
    return e.select(F.col("b").alias("a"), F.col("a").alias("b"))


def _signature(e: DataFrame) -> tuple:
    """(count, xor of edge hashes): an order-independent fingerprint of a
    distinct edge set. ``bit_xor``, not ``sum``, so it cannot overflow
    under ANSI arithmetic."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.least("a", "b"), F.greatest("a", "b"))).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    local_threshold: int = 200_000,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the smallest node id reachable from the node.

    Two execution paths, picked by the symmetric edge count:

    - **small edge set** (<= ``local_threshold``): collect the pairs and
      run driver-side union-find. This is the honest scale design, not a
      shortcut: the edge list is the OUTPUT of dedup thresholding --
      even a 100 TB corpus yields a near-dup match list orders of
      magnitude smaller than its input, and union-find on a few hundred
      thousand pairs is milliseconds versus several distributed rounds.
      The distributed work (pair generation) already happened upstream.
    - **large edge set**: star contraction. Each round runs two phases
      over the symmetric neighbor list:

      - *large-star*: every node u computes m = min(neighbors(u) + {u})
        and re-points each STRICTLY LARGER neighbor v at m (plus u
        itself); long chains fold toward small ids in halving steps.
      - *small-star*: u re-points its smaller-or-equal neighbors (and
        itself) at the min of that subset; stars flatten.

      Both phases preserve the component partition (every emitted edge
      connects nodes already connected through u), so the fixpoint --
      an edge set of (node, component-min) stars -- labels every node
      with the smallest reachable id. The fixpoint probe, a (count,
      hash) signature of the round's edge set, runs every
      :data:`_CHECK_EVERY` rounds: it is the only per-round job, and a
      converged round is two no-op contractions of a star edge set.
      Unprobed rounds materialize lazily inside the next probe's job.
      The rounds' edge sets shrink geometrically; AQE coalesces their
      shuffles. A loop that reaches :data:`_MAX_ROUNDS` without a
      fixpoint raises rather than return partial labels.
    """
    # Materialize the edge list FIRST: it is usually the output of an
    # expensive upstream pipeline (similarity self-join), and the two
    # unionByName branches below would otherwise recompute it twice.
    pairs = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=False)
    # lazy: the count below is the action that materializes pairs AND sym
    # in one job (eager ran one setup job per checkpoint)
    sym = pairs.unionByName(_flip(pairs)).distinct().localCheckpoint(eager=False)

    n_edges = sym.count()
    if n_edges <= local_threshold:
        comp = _union_find_local(
            [(r["a"], r["b"]) for r in sym.collect()]
        )
        spark = edges.sparkSession
        # explicit schema: an empty component map (no edges) must yield an
        # empty typed frame, not a schema-inference error
        return spark.createDataFrame(
            sorted(comp.items()), "node long, component long"
        )

    # every node APPEARING in edges gets a row, including nodes whose only
    # edge is a self-loop; sym is symmetric, so its ``a`` side holds them all
    all_nodes = sym.select(F.col("a").alias("node")).distinct()
    cur = sym.filter(F.col("a") != F.col("b"))
    prev_sig = None
    for rounds in range(1, _MAX_ROUNDS + 1):
        # ---- large-star: m(u) = min(G(u)+{u}); (v,m) for v > u, (u,m).
        # Every emitted edge has b < a (m is a strict minimum), so the
        # output IS the directed b<a form -- no symmetric expansion or
        # re-distinct needed before the small-star phase.
        nbr_min = cur.groupBy("a").agg(F.min("b").alias("mb"))
        m = nbr_min.select("a", F.least("a", "mb").alias("m"))
        large = (
            cur.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(m.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            # no distinct here: duplicate (v, m) edges don't affect the
            # small phase's min aggregate, and the small phase's own
            # distinct canonicalizes the round's output -- one fewer
            # exchange per round
        )

        # ---- small-star over the directed (a, b<a) large output
        sm = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            large.join(sm, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(sm.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            # lazy: the next signature collect is the action that
            # materializes the checkpoint -- eager would run a separate
            # job per round for the same work
            .localCheckpoint(eager=False)
        )
        if rounds % _CHECK_EVERY == 0:
            sig = _signature(small)
            if sig == prev_sig:
                break
            prev_sig = sig
        # symmetric view for the next large-star; both halves are
        # disjoint (b<a vs a<b) and small is distinct, so no re-distinct
        # -- and small is checkpointed, so lineage stays one union deep
        cur = small.unionByName(_flip(small))
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {_MAX_ROUNDS} "
            f"contraction rounds over {n_edges} symmetric edges"
        )

    # fixpoint edges are (node, component-min) stars; nodes with no
    # surviving edge (self-loop-only) label themselves
    labels = (
        small.select(F.col("a").alias("node"), F.col("b").alias("component"))
        .unionByName(
            small.select(F.col("b").alias("node"), F.col("b").alias("component"))
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
    return all_nodes.join(labels, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )
