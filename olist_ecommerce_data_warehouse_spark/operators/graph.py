"""Connected components over a pair graph — the clustering step that
turns near-duplicate PAIRS into duplicate GROUPS (one keeper per
group), the final stage of every production corpus-dedup pipeline
(pairs alone can't answer "which docs do I drop": duplicates chain,
A≈B≈C, and only the component gives the transitive group).

Algorithm: iterative minimum-label propagation expressed as DataFrame
joins — each round every vertex adopts the smallest label among itself
and its neighbors; a fixpoint is reached after O(component diameter)
rounds.  This is the alternating-rounds idea of Hash-to-Min /
large-star–small-star (Rastogi et al., "Finding Connected Components
in Map-Reduce in Logarithmic Rounds", ICDE'13) in its simplest
deterministic form.  Design decisions that matter at scale (and, it
turns out, even at bench scale — job count dominates tiny-graph cost):

- **edges in, endpoint labels out.**  The operator reads only the
  ``(src, dst)`` edge list.  In a dedup graph the vertices touching
  any edge are a sliver of the corpus (most documents are not
  duplicates); vertices with no edges are singleton components by
  definition, so they never enter the iteration or the output.  A
  caller that needs them adds them with one anti-join against its own
  corpus, not via O(rounds) shuffles of the whole corpus.
- **the caller owns the result.**  The returned ``(id, component)``
  frame is the last round's persisted label table, already
  materialized by that round's action; the caller unpersists it (or
  hands it to ``registry.track_persist``).  Every intermediate — the
  earlier rounds' labels and the lineage cuts — is released here.
- **one Spark job per round.**  The round's min-aggregation is
  materialized into its persisted cache by the same ``agg(sum)``
  action that decides convergence: per-vertex min-labels are monotone
  non-increasing, so the label SUM strictly decreases until the
  fixpoint and equality between rounds ⟺ converged.  (The sum is
  accumulated in DECIMAL(38,0): Spark runs ANSI mode, and a BIGINT
  sum of large vertex ids could overflow mid-round.)
- labels are persisted each round and the previous round released —
  iterative plans otherwise double their lineage every round and
  re-execute the whole history at each action.  The edge table itself
  is lineage-CUT up front (``cut_lineage`` — localCheckpoint by
  default, freed with ``release_cut`` on exit): the loop re-analyzes
  its plan every round, and an uncut candidate pipeline costs
  O(plan size × rounds) in driver replanning.
  The trade is explicit (documented in ``operators/lineage.py``): a
  localCheckpoint drops the recompute path, so an executor loss fails
  the job instead of recomputing — acceptable because the cut input
  is exactly one materialization the job already paid for, and a
  session with a checkpoint dir gets the fault-tolerant reliable form
  automatically.
- determinism: min() is order-independent, so cluster representatives
  (component-minimum ids) are identical across runs/retries/partition
  layouts — required for correctness hashing and stable keeper choice.

Near-dup components are overwhelmingly tiny (pairs/triples, diameter
2-4), so rounds stay small; for adversarial long chains (template
pages, version histories) every round ALSO pointer-jumps — each vertex
adopts its label's label — which doubles the hop distance to the
component minimum per round: O(log diameter) rounds on any graph, at
the cost of one extra small self-join per round.  The jump is
ADAPTIVE (switches on after round 3), so the shallow graphs dedup
actually produces never pay for it (measured: a 256-node path
converges in 10 rounds vs 255 for pure propagation; the sf0.1 dedup
graph still finishes in 3 jump-free rounds).  ``MAX_ITER`` rounds
without a fixpoint raise instead of returning wrong labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from olist_ecommerce_data_warehouse_spark.operators.lineage import (
    cut_lineage,
    release_cut,
)

# enough for a component of diameter 2^MAX_ITER plus one confirmation
# round (pointer jumping doubles the hop distance per round)
MAX_ITER = 25


def connected_components(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """(id, component) for every endpoint of the ``(src, dst)`` edges;
    ``component`` = smallest vertex id reachable through ``edges``
    (undirected, direction ignored).  Vertices with no edge are not in
    the output.

    The result is persisted and OWNED BY THE CALLER: ``unpersist()``
    it after its last use (see the module doc).
    ``stats``: optional dict filled with run diagnostics (rounds,
    n_edge_rows, converged) — the hook scale tests use to pin the
    O(log diameter) round bound.  Raises RuntimeError if no fixpoint
    is reached within ``MAX_ITER`` rounds.
    """
    spark = edges.sparkSession
    # Materialize the DIRECTED edge list once WITH AQE — candidate-pair
    # joins are exactly where runtime skew splitting matters, and the
    # symmetrized view below would otherwise evaluate the whole
    # upstream pair pipeline twice (once per union branch).
    # The edge list is NOT deduplicated: duplicate/parallel edges are
    # harmless under the min-aggregation (they only repeat a message),
    # and a distinct would cost a full extra shuffle.
    #
    # LINEAGE IS CUT here, not merely persisted: every loop round
    # references the edge table 2-3 times, and persist() caches data
    # but re-embeds the full UPSTREAM LOGICAL PLAN in each round's
    # analysis/optimization — Catalyst cost is O(tree size × rounds)
    # on the single-threaded driver, invisible at executor level and
    # unaffected by data volume.  Measured: when the LSH candidate
    # pipeline feeding dedup_cluster_cc widened (INT-shingle rolling
    # hashes), the loop went 1.3 s → 5.6 s at sf0.1 with IDENTICAL
    # execution work; cutting edge lineage restored it (6.2 s → 2.0 s
    # for the full CC call).  See operators/lineage.py for the
    # checkpoint-vs-localCheckpoint policy (same as the round-5 label
    # cut below).
    e = cut_lineage(edges.select("src", "dst"))
    n_edges = e.count()
    # symmetrized view over the cut (narrow column swap per round —
    # cheaper than materializing a second copy).  With both
    # directions present, the src column alone covers every endpoint.
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    parts_session = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    loop_parts = max(2, min(parts_session, (n_edges * 2) // 500_000 + 1))
    # round 0 folded into initialization: component⁰(v) = min(v, its
    # direct neighbors) is one narrow aggregation over the cut edge
    # list — one fewer join round
    labels = (
        sym.repartition(loop_parts, "src")
        .groupBy("src")
        .agg(F.min("dst").alias("__min_nbr"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("__min_nbr")).alias("component"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Shuffle partitions for the loop are right-sized from the MEASURED
    # edge count (~500k edge rows per partition, ≥2, never above the
    # session setting): a dedup pair graph is a sliver of the corpus,
    # and running its per-round micro-shuffles at the corpus-sized
    # partition count is pure task-scheduling overhead (measured ~3×
    # round latency at 32 vs 8 partitions on a 10k-edge graph).  The
    # sizing is applied PER-JOB via explicit hash repartition on the
    # aggregation key — NOT by mutating spark.sql.shuffle.partitions /
    # spark.sql.adaptive.enabled session-wide, which would re-plan any
    # CONCURRENT query on the same session (parallel bench runs,
    # streaming micro-batches) with 2-ish partitions and race the
    # restore.  HashPartitioning(id, n) satisfies the groupBy's
    # ClusteredDistribution, so the repartition IS the aggregation
    # shuffle, not an extra one.  A billion-edge graph computes the
    # session value and is unaffected.
    label_cut = None  # the latest every-5-rounds cut of the labels
    try:
        # empty graph: no endpoints, nothing to iterate — without the
        # early exit, SUM over zero rows is NULL every round and the
        # sentinel-based equality below would still catch it after
        # round 2, but the exit skips even those empty jobs.  No round
        # fills the (empty) label cache then, so one count does: the
        # edge cut it reads is released on return.
        _UNSET = object()
        prev_sum = _UNSET
        converged = n_edges == 0
        if converged:
            labels.count()
        rounds = 0
        for _ in range(MAX_ITER if n_edges > 0 else 0):
            rounds += 1
            # for edge (src→dst), dst hears src's current label
            heard = (
                sym.join(labels, sym.src == labels.id)
                .select(F.col("dst").alias("id"), "component")
            )
            # POINTER JUMPING (the doubling step of large-star /
            # Hash-to-Min): every vertex also adopts its LABEL's label,
            # comp(comp(v)) — the hop distance to the component minimum
            # doubles each round, so long chains converge in O(log
            # diameter) rounds instead of O(diameter).  Without this, a
            # 1000-link near-duplicate chain (template pages, version
            # histories) silently exhausts MAX_ITER and returns wrong
            # labels.  comp(v) is always itself an endpoint vertex (it
            # is min(v, neighbors…) of endpoint ids), so the self-join
            # always finds a row; left+coalesce guards the invariant
            # anyway.  ADAPTIVE: the jump join only switches on after
            # round 3 — real dedup graphs (diameter 2-4) converge
            # before that and skip its per-round label self-join
            # entirely (measured ~35% of loop wall-time at sf0.1);
            # deep graphs pay 3 cheap rounds then double: still
            # O(log diameter) overall.
            branches = [labels, heard]
            if rounds > 3:
                l2 = labels.select(
                    F.col("id").alias("__jid"), F.col("component").alias("__jcomp")
                )
                jumped = (
                    labels.join(l2, labels.component == F.col("__jid"), "left")
                    .select(
                        "id",
                        F.coalesce("__jcomp", "component").alias("component"),
                    )
                )
                branches.append(jumped)
            merged = branches[0]
            for b in branches[1:]:
                merged = merged.unionByName(b)
            new_labels = (
                merged.repartition(loop_parts, "id")
                .groupBy("id")
                .agg(F.min("component").alias("component"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            # single action per round: materializes new_labels' cache
            # AND yields the convergence statistic (labels are monotone
            # non-increasing ⇒ equal sums ⟺ fixpoint)
            cur_sum = new_labels.agg(
                F.sum(F.col("component").cast("decimal(38,0)"))
            ).collect()[0][0]
            labels.unpersist()
            labels = new_labels
            # sentinel (not None): a SUM over an empty/degenerate label
            # table is NULL, and `prev_sum is not None` would make
            # None == None unreachable — the loop would spin all
            # MAX_ITER rounds instead of converging
            if prev_sum is not _UNSET and cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
            # Lineage truncation every 5 rounds: each round references
            # the previous labels THREE times (carry ∪ heard ∪ jumped),
            # so the logical plan grows ~3^rounds — by round 10 Catalyst
            # itself stack-overflows just printing the tree.  persist()
            # caches DATA but not the plan, so deep graphs need a hard
            # lineage cut; shallow dedup graphs (2-4 rounds) never reach
            # it and keep pure persist-with-lineage semantics.  The cut
            # comes after the convergence check, so the returned labels
            # are always a persisted round table, never a cut.
            if rounds % 5 == 0:
                cut = cut_lineage(labels)
                labels.unpersist()
                if label_cut is not None:
                    release_cut(label_cut)
                labels = label_cut = cut
        if stats is not None:
            stats["rounds"] = rounds
            stats["n_edge_rows"] = n_edges
            stats["converged"] = converged
        if not converged:
            # silently wrong labels are worse than failing: a component
            # whose diameter outruns the doubling budget (2^MAX_ITER).
            # Release the last round's persisted labels first — a caller
            # that catches and retries would otherwise leak a
            # vertex-sized cache table per attempt.
            labels.unpersist()
            raise RuntimeError(
                f"connected_components: no fixpoint after {MAX_ITER} rounds"
            )
        return labels
    finally:
        # the returned labels are materialized, so their reads never
        # reach the cuts again
        release_cut(e)
        if label_cut is not None:
            release_cut(label_cut)
