"""Connected components — the closing step of fuzzy dedup at scale.

Near-dup detection (MinHash/SimHash pairs) yields EDGES; what a
curation pipeline actually needs is the transitive closure: one cluster id
per document, one canonical survivor per cluster. The reference has no
graph tier at all (its dedup is Postgres ON CONFLICT, reference:
dags/financial_pipeline.py:105-118); this is the (a)-tier composition
Spark lacks natively.

Algorithm: hash-min label propagation with pointer jumping (path
halving). Every vertex starts labeled with its own id; each round, every
vertex adopts the minimum label among itself and its neighbors, then
follows the adopted label's own label one hop — O(log diameter) rounds
for near-dup families (small, dense clusters converge in 2-3). If the
primary loop exhausts its budget on a pathological shape, the graph
contracts through the labels earned so far and the alternating
large-star/small-star algorithm (Kiveris et al.,
:func:`_alternating_star_components` — O(log² n) rounds on ANY graph)
finishes the job.

Scale shape per round: ONE action (the label checkpoint — the convergence
count rides it as an `observe` metric, not a second job), one shuffle of
the edge list joined against the current labels, and one min-aggregate
over the message union (self-messages carry the old label through the
same aggregate, so no separate labels join is needed). The only
driver-side value is the observed changed-count.
At 100 TB the edge list is the frame you can never afford to reshuffle
every round: :func:`symmetrize_edges_bucketed` writes it ONCE as a
bucketed table (bucketed on the join-side vertex), after which every
round's edge⋈labels join plans with NO Exchange on the edge side
(pinned in tests/test_plan_shapes.py). Labels — |V| rows, typically two
orders of magnitude smaller — still shuffle; that is the bounded cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def symmetrize_edges_bucketed(
    edges: DataFrame,
    table: str,
    *,
    src: str = "src",
    dst: str = "dst",
    n_buckets: int = 32,
) -> DataFrame:
    """Materialize the symmetrized edge list ONCE as a bucketed table and
    return the catalog-backed frame, ready for :func:`connected_components`
    via its ``sym`` parameter.

    Bucketing by ``v`` (the label-join side) pre-pays the edge shuffle at
    write time: every subsequent round's ``sym ⋈ labels ON v = id`` join
    reads bucket-for-bucket with no Exchange on the edge side — the
    per-round cost that dominates iterative graph algorithms at scale.
    """
    from ..sources.sinks import write_bucketed_table

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    write_bucketed_table(sym, table, bucket_by=["v"], n_buckets=n_buckets)
    return edges.sparkSession.table(table)


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    id_col: str = "id",
    max_iterations: int = 25,
    vertices_complete: bool = False,
    sym: DataFrame | None = None,
) -> DataFrame:
    """(id, component) for the undirected graph of ``edges``; ``component``
    is the smallest vertex id reachable from ``id``.

    ``vertices`` (one ``id_col`` column) adds isolated vertices — pass the
    full corpus so singletons come back as their own component. With
    ``vertices_complete=True`` the caller asserts ``vertices`` is unique
    AND covers every edge endpoint (true for any dedup pipeline: pairs
    come from the corpus), skipping the edge-endpoint distinct entirely.
    The assertion is load-bearing: endpoints missing from ``vertices`` are
    only PARTIALLY tolerated (a stray endpoint adjacent to a labeled
    vertex is adopted and counted as changed, never silently converged
    past) — a component containing NO listed vertex emits no rows at all.
    If the pair frame can span ids outside ``vertices`` (e.g. an
    incremental probe joining a new batch against an old corpus), pass
    ``vertices_complete=False`` and pay the endpoint distinct.
    ``sym`` supplies a pre-symmetrized (u, v) frame — e.g. the bucketed
    table from :func:`symmetrize_edges_bucketed` — bypassing the internal
    checkpoint. Edges are symmetrized internally otherwise; self-loops and
    duplicates are harmless.

    Deterministic: the fixpoint of min-label propagation is unique
    regardless of partitioning or iteration interleaving.
    """
    if sym is None:
        # Materialize the (possibly expensive — e.g. a full MinHash
        # pipeline) edge frame ONCE, then symmetrize from the checkpointed
        # blocks: a plain union of two selects over the raw frame would
        # evaluate its lineage twice. No distinct() on the result —
        # duplicate edges cost nothing against the MIN aggregate below,
        # while deduplicating would add a full edge-list shuffle before
        # the first round starts.
        e = (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .localCheckpoint()
        )
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    if vertices is not None and vertices_complete:
        nodes = vertices.select(F.col(id_col))
    else:
        nodes = sym.select(F.col("u").alias(id_col)).distinct()
        if vertices is not None:
            nodes = nodes.union(vertices.select(F.col(id_col))).distinct()

    # Eager localCheckpoint per round, NOT persist(): persist caches data
    # but the logical plan still nests one level per iteration — by round
    # ~15 the composed plan OOMs the JVM just rendering itself. Checkpoint
    # truncates lineage so every round plans against a materialized base
    # (a durable `checkpoint()` dir is the multi-executor-failure-safe
    # variant for production runs). `sym` needs no checkpoint of its own:
    # both union branches scan the already-checkpointed edge blocks.
    labels = nodes.select(
        id_col, F.col(id_col).alias("component")
    ).localCheckpoint()
    for rnd in range(max_iterations):
        # 1-hop spread: adopt the minimum label among self + neighbors.
        # Self-messages ride the SAME aggregate as neighbor messages (the
        # `_self` flag recovers the old label via max-when), so the round
        # needs no labels⋈neighbor_min join — every vertex appears exactly
        # once as its own message, isolated vertices included.
        nbr_msgs = sym.join(labels, sym["v"] == labels[id_col]).select(
            F.col("u").alias(id_col),
            F.col("component"),
            F.lit(False).alias("_self"),
        )
        self_msgs = labels.select(
            id_col, "component", F.lit(True).alias("_self")
        )
        stepped = (
            self_msgs.union(nbr_msgs)
            .groupBy(id_col)
            .agg(
                F.min("component").alias("_step"),
                F.max(F.when(F.col("_self"), F.col("component"))).alias(
                    "_old"
                ),
            )
        )
        if rnd == 0:
            # Round 1's labels are the identity map — pointer jumping
            # through it is a no-op, so skip the lookup join entirely.
            # A vertex with NO self-message (an edge endpoint missing from
            # a caller-supplied vertices_complete frame) has _old = NULL;
            # it must count as CHANGED, not NULL-propagate into the
            # convergence observation and allow an early exit with its
            # labels unpropagated. Partial tolerance only: such a vertex
            # enters the label frame when some neighbor IS labeled; a
            # component with NO labeled vertex at all emits no messages and
            # is silently absent (see the vertices_complete contract in the
            # docstring).
            cand = stepped.select(
                stepped[id_col],
                F.col("_step").alias("component"),
                (
                    F.col("_old").isNull()
                    | (F.col("_step") < F.col("_old"))
                ).alias("_changed"),
            )
        else:
            # pointer jump (path halving): follow the adopted label's OWN
            # label one hop — labels only ever decrease, so this shortcuts
            # chains and turns diameter-round convergence into
            # O(log diameter) (the same idea as union-find path
            # compression / large-star contraction).
            lut = labels.select(
                F.col(id_col).alias("_lid"),
                F.col("component").alias("_lcomp"),
            )
            cand = (
                stepped.join(lut, stepped["_step"] == lut["_lid"], "left")
                .select(
                    stepped[id_col],
                    F.least(
                        F.col("_step"), F.coalesce("_lcomp", "_step")
                    ).alias("component"),
                    (
                        F.col("_old").isNull()
                        | (
                            F.least(
                                F.col("_step"),
                                F.coalesce("_lcomp", "_step"),
                            )
                            < F.col("_old")
                        )
                    ).alias("_changed"),
                )
            )
        # The convergence count rides the checkpoint materialization as an
        # observed metric — one action per round, not a second count job.
        obs = Observation()
        new_labels = cand.observe(
            obs, F.count(F.when(F.col("_changed"), 1)).alias("changed")
        ).localCheckpoint()
        labels = new_labels.drop("_changed")
        if obs.get["changed"] == 0:
            return labels
    # Primary loop exhausted: pathological diameter for min-label
    # propagation even with path halving. Finish with the worst-case-safe
    # alternating large-star/small-star contraction on the graph
    # CONTRACTED through the labels earned so far (|contracted| ≤ |E|,
    # usually far smaller), then compose the two mappings. The fallback
    # is O(log² n) rounds on ANY graph shape (Kiveris et al.), so the
    # combined algorithm keeps the fast-typical path AND a bounded tail.
    lu = labels.select(F.col(id_col).alias("_u"), F.col("component").alias("_cu"))
    lv = labels.select(F.col(id_col).alias("_v"), F.col("component").alias("_cv"))
    contracted = (
        sym.join(lu, sym["u"] == lu["_u"])
        .join(lv, sym["v"] == lv["_v"])
        .filter(F.col("_cu") != F.col("_cv"))
        .select(
            F.least("_cu", "_cv").alias("u"),
            F.greatest("_cu", "_cv").alias("v"),
        )
        .distinct()
        .localCheckpoint()
    )
    star = _alternating_star_components(contracted).select(
        F.col("id").alias("_sid"), F.col("component").alias("_scomp")
    )
    # old-component roots absent from the star frame map to themselves
    return labels.join(
        star, labels["component"] == star["_sid"], "left"
    ).select(
        id_col,
        F.coalesce("_scomp", "component").alias("component"),
    )


def _alternating_star_components(
    e: DataFrame, *, max_rounds: int = 60
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond") — the
    O(log² n)-rounds-on-ANY-graph algorithm :func:`connected_components`
    falls back to when min-label propagation stalls on a pathological
    diameter.

    ``e`` is the canonical undirected edge set (u < v, distinct, no
    self-loops, lineage already truncated). Per round:

    - **large-star**: every node u connects each LARGER neighbor v to
      m = min(Γ(u) ∪ {u});
    - **small-star**: every node u connects its SMALLER neighbors and
      itself to its minimum smaller neighbor.

    Both steps preserve connectivity and monotonically pull nodes toward
    their component minimum; the fixpoint (edge set unchanged by both) is
    a disjoint union of stars rooted at each component's min. Returns
    (id, component) for every NON-ROOT vertex — roots map to themselves
    by construction (callers coalesce), and vertices isolated in ``e``
    never appear.

    Scale shape per round: two grouped min-aggregates over the edge list
    + the emit joins — the same edges⋈per-node-min pattern as the primary
    loop, no new primitive. The fixpoint check is a distinct-set compare
    (anti-join), two extra jobs per round — acceptable for a fallback
    that runs only after the primary loop's budget is spent.
    """
    converged = False
    for _ in range(max_rounds):
        # -- large-star: (v, min(Γ⁺(u))) for every larger neighbor v of u --
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        m = F.least(F.col("u"), F.col("_mn"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("x"), m.alias("y"))
        )
        e1 = (
            large.filter(F.col("x") != F.col("y"))
            .select(
                F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
            )
            .distinct()
        )
        # -- small-star: smaller neighbors ∪ {u} connect to their min --
        sym1 = e1.union(e1.select(F.col("v").alias("u"), F.col("u").alias("v")))
        smaller = sym1.filter(F.col("v") < F.col("u"))
        mins1 = smaller.groupBy("u").agg(F.min("v").alias("_mn"))
        small = (
            smaller.join(mins1, "u")
            .filter(F.col("v") != F.col("_mn"))
            .select(F.col("v").alias("x"), F.col("_mn").alias("y"))
            .union(mins1.select(F.col("u").alias("x"), F.col("_mn").alias("y")))
        )
        e_new = (
            small.filter(F.col("x") != F.col("y"))
            .select(
                F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
            )
            .distinct()
            .localCheckpoint()
        )
        # fixpoint: the canonical distinct edge sets are equal
        if e_new.count() == e.count() and e_new.subtract(e).isEmpty():
            e = e_new
            converged = True
            break
        e = e_new
    if not converged:
        # a non-star-forest edge set would map vertices to intermediate
        # labels — SILENT under-merging; fail loudly instead (the bound
        # is O(log² n), so hitting it means a bug, not a big graph)
        raise RuntimeError(
            f"large-star/small-star did not reach its fixpoint in "
            f"{max_rounds} rounds — this exceeds the algorithm's "
            "O(log² n) bound; inspect the edge frame"
        )
    # fixpoint edge set is a star forest: (root=u, member=v) per edge
    return e.select(F.col("v").alias("id"), F.col("u").alias("component"))


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """(doc_id, cluster_id, is_canonical, cluster_size) for every document.

    ``pairs`` is any near-dup pair frame (MinHash, SimHash — they all
    emit (id_a, id_b)). The canonical survivor is the smallest
    doc_id in the cluster (deterministic); ``filter(is_canonical)`` IS the
    dedup, and ``cluster_size`` is the dedup ratio audit for free. Sizes
    ride a count-over-window on the component labels — one shuffle, no
    aggregate-then-join. ``docs`` is a dedup corpus, so its ids are unique
    and cover every pair endpoint (vertices_complete)."""
    comp = connected_components(
        pairs,
        src=pair_cols[0],
        dst=pair_cols[1],
        vertices=docs.select(F.col(id_col).alias("id")),
        vertices_complete=True,
    )
    w = Window.partitionBy("component")
    return comp.select(
        F.col("id").alias(id_col),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


def oriented_wedges(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    orient: str = "id",
) -> DataFrame:
    """The 2-path (wedge) frame ``(a, b, c, _cb, _cc)`` of the chosen
    orientation: for every vertex ``a``, every ordered pair of its
    out-neighbors ``b < c`` (by the orientation's total order), carrying
    the CANONICAL ids (``_cb``/``_cc`` = min/max of b, c by plain id) the
    closure join probes against. Wedge cardinality is the whole cost of
    distributed triangle enumeration — sum over vertices of
    C(out_degree, 2) — which is exactly what orientation controls, so
    this frame is exposed for fan-out audits (tests assert the
    degree-oriented wedge count stays bounded on skewed graphs).

    ``orient="id"``: edges point low id → high id. Zero extra joins; fine
    when ids are uncorrelated with degree, but a LOW-id hub of degree d
    generates C(d, 2) wedges — the quadratic blow-up.

    ``orient="degree"``: edges point lower (degree, id) → higher — the
    classic result (Cohen / Suri-Vassilvitskii MR triangle counting) that
    caps out-degree at O(sqrt(|E|)): a vertex's out-neighbors all have
    degree ≥ its own, and only sqrt-many vertices can exceed sqrt(|E|)
    degree, so per-vertex wedge fan-out is bounded by |E| regardless of
    hub skew. Costs one degree aggregate (|V| rows) + one broadcast-sized
    join to stamp both endpoints.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if orient == "id":
        o = e.select(
            F.col("u").alias("a"),
            F.col("v").alias("b"),
            F.struct(F.lit(0).alias("d"), F.col("v").alias("i")).alias("_ob"),
        )
    elif orient == "degree":
        deg = (
            e.select(F.col("u").alias("x"))
            .unionAll(e.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        ej = e.join(
            deg.select(F.col("x").alias("u"), F.col("d").alias("_du")), "u"
        ).join(
            deg.select(F.col("x").alias("v"), F.col("d").alias("_dv")), "v"
        )
        ou = F.struct(F.col("_du").alias("d"), F.col("u").alias("i"))
        ov = F.struct(F.col("_dv").alias("d"), F.col("v").alias("i"))
        fwd = ou < ov  # total order: ties in degree break by id
        o = ej.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(fwd, ov).otherwise(ou).alias("_ob"),
        )
    else:
        raise ValueError(f"orient must be 'id' or 'degree', got {orient!r}")
    return (
        o.alias("o1")
        .join(o.alias("o2"), F.col("o1.a") == F.col("o2.a"))
        .filter(F.col("o1._ob") < F.col("o2._ob"))
        .select(
            F.col("o1.a").alias("a"),
            F.col("o1.b").alias("b"),
            F.col("o2.b").alias("c"),
            F.least(F.col("o1.b"), F.col("o2.b")).alias("_cb"),
            F.greatest(F.col("o1.b"), F.col("o2.b")).alias("_cc"),
        )
    )


def triangles(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    orient: str = "id",
) -> DataFrame:
    """(u, v, w) with u < v < w — every triangle in the undirected graph of
    ``edges``. On a near-dup graph a triangle is mutually-confirming
    evidence (three pairwise-similar documents — almost always one
    template family), the signal that separates systematic boilerplate
    from one-off pair noise; it is also the building block of clustering
    coefficients.

    Physical shape: edges canonicalize once (u < v, distinct), then ONE
    wedge self-join on the orientation's source vertex plus ONE closure
    join back to the canonical edge set — the textbook distributed
    enumeration, with the orientation deciding the wedge count (the whole
    cost; see :func:`oriented_wedges`). ``orient="id"`` (default) is join
    -free; ``orient="degree"`` pays one degree aggregate + stamp join to
    cap per-vertex fan-out at O(sqrt(|E|)) on power-law graphs — use it
    whenever hub skew is possible. Both produce the identical triangle
    set (every triangle has exactly one vertex with two out-edges under
    ANY total-order orientation — equivalence-tested).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if orient == "id":
        # id orientation: wedge (u; v, w) always has u < v < w already,
        # so the classic 2-path formulation needs no re-sort of the triple
        paths = e.alias("e1").join(
            e.alias("e2"), F.col("e1.v") == F.col("e2.u")
        ).select(
            F.col("e1.u").alias("u"), F.col("e1.v").alias("v"), F.col("e2.v").alias("w")
        )
        return paths.join(
            e.select(F.col("u").alias("_cu"), F.col("v").alias("_cv")),
            (F.col("u") == F.col("_cu")) & (F.col("w") == F.col("_cv")),
            "leftsemi",
        )
    wedges = oriented_wedges(edges, src=src, dst=dst, orient=orient)
    closed = wedges.join(
        e.select(F.col("u").alias("_cb"), F.col("v").alias("_cc")),
        ["_cb", "_cc"],
        "leftsemi",
    )
    # the orientation's (a, b, c) is ordered by (degree, id); re-sort by
    # plain id so the output triple matches the id-orientation contract
    return closed.select(
        F.array_sort(
            F.array(F.col("a"), F.col("b"), F.col("c"))
        ).alias("_t")
    ).select(
        F.col("_t")[0].alias("u"),
        F.col("_t")[1].alias("v"),
        F.col("_t")[2].alias("w"),
    )


def pagerank_fixed_point(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    reuse_edges: bool = True,
) -> DataFrame:
    """Synchronous PageRank, ``iterations`` rounds, in EXACT integer
    fixed-point arithmetic — every engine reproduces bit-identical scores.

    Floating-point PageRank is not cross-engine comparable: per-node sums
    of neighbor contributions depend on addition order, which differs by
    partitioning. Here mass is integer micro-units (``scale`` per node),
    each round computes

        s'(v) = ((100 - damping_pct) * scale) DIV 100
                + SUM over in-edges (u, v) of
                  (s(u) * damping_pct) DIV (100 * out_deg(u))

    with integer DIV throughout (same floor semantics in Spark's ``DIV``
    and DuckDB's ``//`` for the non-negative values here), so the result
    is a pure function of the edge set. The DIV's dropped remainder means
    total mass decays slightly per round — acceptable for RANKING, which
    is what PageRank is for; it is not a probability distribution.

    Dangling nodes contribute nothing (their mass leaks); symmetrize the
    edge list first for undirected graphs, which also removes dangling
    nodes entirely.

    Scale shape: per round, one join of the edge list against the |V|-row
    score frame + one sum-aggregate on the destination — the same
    edges⋈labels shape as :func:`connected_components`, so the same
    bucketed-edge-table trick (``symmetrize_edges_bucketed``) removes the
    per-round edge-side Exchange at 100 TB. Unlike CC, the round count is
    FIXED, so the plan is finitely nested and needs no per-round
    checkpoint below ~5 iterations; persist ``deg``/``nodes`` (reused
    every round) when the loop grows past that.

    ``reuse_edges`` (default on) lazily localCheckpoints the edge frame so
    its derivation (often a distinct over a fact table) evaluates ONCE for
    all rounds + nodes + degrees instead of once per reference — measured
    -26% at sf0.1 — and (r16) also checkpoints the degree-annotated edge
    frame so the out-degree join runs once per query instead of once per
    round. Checkpointing nodes as well measured SLOWER (the extra
    materializations serialize stages that otherwise overlap).
    Pass ``reuse_edges=False`` when the edge list is ALREADY materialized
    (a parquet/bucketed table, e.g. via ``symmetrize_edges_bucketed``):
    localCheckpoint would copy the entire edge list into non-reliable
    executor-local storage — wasted at any size, and at the 100 TB shape
    it also trades table-recomputable recovery for job-fatal block loss.
    The default serves DERIVED edge frames, where evaluating the
    derivation once is the win.
    """
    base = ((100 - damping_pct) * scale) // 100
    if reuse_edges:
        edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    deg = edges.groupBy(F.col(src).alias("_u")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    # Optimization r16 (guide §2.4 — remove shuffles/joins outright;
    # A/B'd at sf0.1 with bit-identical output): the per-round shape is
    # ONE join + ONE aggregate instead of the old two joins + left-outer
    # + aggregate.
    #   - the out-degree is attached to each edge ONCE, outside the loop
    #     (``edges_w``), instead of re-joining ``deg`` every round;
    #   - the old ``nodes LEFT JOIN contrib`` + COALESCE(…, 0) becomes a
    #     zero-contribution SEED ROW per node unioned into the round's
    #     aggregate input — ``base + SUM`` over (contribs ∪ {0}) is
    #     integer-identical to ``base + COALESCE(SUM(contribs), 0)`` and
    #     drops one join (and its broadcast build) per round.
    # With ``reuse_edges`` the degree-annotated edge frame is lazily
    # checkpointed too, so the deg join runs once per query, not once
    # per round; without it (pre-materialized/bucketed edge tables) the
    # join re-derives per round exactly as the old deg join did — on a
    # src-bucketed table both the aggregate and the join stay
    # exchange-free, so the 100 TB posture is unchanged.
    edges_w = edges.join(deg, F.col(src) == F.col("_u")).select(
        src, dst, "_deg"
    )
    if reuse_edges:
        edges_w = edges_w.localCheckpoint(eager=False)
    zero = nodes.select("node", F.lit(0).cast("long").alias("_c"))
    scores = nodes.withColumn("score", F.lit(scale).cast("long"))
    for _ in range(iterations):
        scores = (
            edges_w.join(
                scores.select(F.col("node").alias(src), "score"), src
            )
            .select(
                F.col(dst).alias("node"),
                F.expr(
                    f"(score * {damping_pct}) DIV (100 * _deg)"
                ).alias("_c"),
            )
            .unionByName(zero)
            .groupBy("node")
            .agg(
                (F.lit(base) + F.sum("_c")).cast("long").alias("score")
            )
        )
    return scores
