"""Connected components over near-duplicate pair graphs.

X2 operators emit PAIRS (id_a, id_b); a dedup pipeline must resolve
them into CLUSTERS and keep one canonical document per cluster —
near-duplication is transitive in effect (A~B, B~C → one cluster)
even when the pairwise predicate isn't.

Implementation is iterative min-label propagation, DataFrame-only:
every node starts labeled with its own id; each round every node
takes the min label in its neighborhood; converged when no label
changes. Rounds = graph diameter (near-dup clusters are shallow —
a handful of rounds), each round one shuffle on the node id. Labels
are monotonically non-increasing, so convergence is guaranteed; the
driver-side loop checks a one-long count per round (metadata, same
sanction as operators/rank.py). At 100 TB this is the standard
pre-GraphX/GraphFrames shape: joins + aggregations only, no RDDs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.session import pin


def _pin_round(df: DataFrame) -> DataFrame:
    """:func:`~eco_pulse_lakehouse_spark.session.pin` for
    ITERATIVE-LOOP state, with the origin plan's statistics stripped.

    Spark's Dataset.localCheckpoint (the pin) carries the optimized plan's
    stats into the resulting LogicalRDD (normally desirable — it
    keeps broadcast decisions working downstream). Inside a loop
    whose round plan joins the previous round's state with ITSELF
    (the pointer jump), those inherited sizeInBytes COMPOUND:
    bits(stats_r) ≈ 2·bits(stats_{r-1}), so by round ~20 the driver
    is doing multi-megabyte BigInteger arithmetic per stats lookup
    and by round ~30 the BigInteger itself exceeds heap (observed:
    t53's batch-0 winnowing subgraph at the sf1 rehearsal OOM'd in
    SizeInBytesOnlyStatsPlanVisitor). Rebuilding the DataFrame over
    the already-checkpointed RDD (internalCreateDataFrame — the same
    JVM hook PySpark's own createDataFrame uses) drops the origin
    stats: each round's state then reports the DEFAULT sizeInBytes,
    which is constant across rounds. Loop-internal joins are
    shuffle joins on corpus-scale state anyway, so nothing inside
    the loop wanted those stats.

    The FINAL labels :func:`connected_components` returns are built
    from the last round's rebuilt state, so they too report the
    default sizeInBytes (measured: constant 63-bit default vs the
    plain form's 20→2431-bit doubling over 8 rounds; a plain
    pin of the converged labels inherits the same
    default, so it would not help). That costs no real capability —
    the pre-fix labels carried the astronomically compounded stats,
    so auto-broadcast downstream never fired either way. Callers
    that KNOW their label table is small (e.g. a bounded pair graph)
    should wrap it in ``F.broadcast`` explicitly before joining."""
    df = pin(df)
    spark = df.sparkSession
    try:
        jdf = df._jdf
        rebuilt = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(rebuilt, spark)
    except Exception:
        # No usable JVM hook: AttributeError on non-classic sessions
        # (Connect — no _jsparkSession), but a JVM session that lacks
        # or renames internalCreateDataFrame (a private[sql] hook, not
        # API) surfaces as py4j.Py4JError/Py4JJavaError AT CALL TIME,
        # so the guard must be broader than AttributeError (ADVICE
        # r12). The pinned frame still works, it just keeps the
        # inherited stats (the pre-fix behavior, safe for shallow
        # loops); tests/test_analytics_ops.py pins the classic-session
        # hook so an upgrade that silently lands here fails loudly.
        return df


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
    pointer_jump: bool = True,
    check_every: int = 1,
) -> DataFrame:
    """Resolve an undirected pair list into (id, component) where
    ``component`` is the minimum node id reachable from ``id``.
    Nodes appearing in no pair are absent (callers union singletons
    if needed).

    Each round combines NEIGHBOR-MIN propagation with a POINTER JUMP
    (comp := comp of comp — the label table self-joined on the
    carried label), the same doubling the DuckDB oracle's unrolled
    rounds use (northstar.py:_cc_label_prop_sql): labels reach the
    component min in O(log diameter) rounds instead of O(diameter),
    which is what keeps a 20-round bound safe for any graph this
    corpus (or a 100 TB pair stream) can produce. Each round
    materializes ONCE via a pin and the convergence count
    then scans the checkpointed rows (the pre-r07 order ran the
    round's join pipeline twice — once for the count, once for the
    checkpoint). Labels are monotonically non-increasing so
    convergence is guaranteed; hitting ``max_iterations`` without
    converging raises instead of silently returning partial labels —
    the engine-side twin of the oracle's comp=-1 poison
    certificate."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(
                F.col(b_col).alias("src"), F.col(a_col).alias("dst")
            )
        )
        .distinct()
        # Pin the edge list ONCE: ``pairs`` is usually the tail of an
        # expensive discovery plan (shingle index + Jaccard join), and
        # without pinning every propagation round — plus the initial
        # label build — re-executes that whole plan (measured: the
        # x2_dedup_clusters one-off is ~10 s of pair generation and
        # ~1.5 s of actual propagation, so the unpinned loop tripled
        # the cost).
        .transform(pin)
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "comp", F.col("id")
    )
    # ``check_every`` (r14, guide §2.6 driver round-trips): the
    # convergence count is a separate driver ACTION after each
    # round's pin — 2 jobs/round. Counting every K-th round nearly
    # halves the per-round driver barrier at the cost of up to K−1
    # extra (already-converged, hence no-op) rounds before the break.
    # The fixed point is unchanged — converged labels are idempotent
    # under further rounds — so results are identical for any K
    # (pinned by test_cc_check_every_identical). DEFAULT 1: on a
    # corpus-scale batch graph an extra no-op round (edge joins) can
    # cost far more than the counts it saves. The incremental path
    # (incremental_components_update) passes K=2: its root graphs are
    # touched-clusters-sized by construction, so every round sits at
    # the ~77 ms local job floor and the driver barrier IS the cost
    # (BENCH_DETAIL.t35_batch_cost_split).
    changed = None
    for _i in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("comp").alias("nmin"))
        )
        half = labels.join(
            neighbor_min, labels["id"] == neighbor_min["src"], "left"
        )
        if pointer_jump:
            jumped = labels.select(
                F.col("id").alias("__jid"), F.col("comp").alias("__jcomp")
            )
            half = half.join(
                jumped, labels["comp"] == jumped["__jid"], "left"
            )
            new_comp = F.least(
                F.col("comp"),
                F.coalesce(F.col("nmin"), F.col("comp")),
                F.coalesce(F.col("__jcomp"), F.col("comp")),
            )
        else:
            new_comp = F.least(
                F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))
            )
        updated = _pin_round(
            half.select(
                "id",
                new_comp.alias("comp"),
                F.col("comp").alias("__old"),
            )
        )
        # one long to the driver per CHECK round: convergence check —
        # a near-free scan of the just-checkpointed partitions
        if (_i + 1) % check_every == 0 or _i == max_iterations - 1:
            changed = updated.filter(
                F.col("comp") != F.col("__old")
            ).count()
        else:
            changed = None
        labels = updated.drop("__old")
        if changed == 0:
            break
    if changed:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"rounds ({changed} labels still changing) — raise "
            "max_iterations; with pointer jumping rounds scale as "
            "log2(diameter), so this indicates a pathological graph"
        )
    return labels


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Keep one canonical document (lowest id) per near-dup cluster;
    documents in no pair survive untouched. The end-to-end X2 shape:
    pairs → components → canonical filter."""
    comp = connected_components(pairs, a_col, b_col)
    return (
        docs.join(comp, docs[id_col] == comp["id"], "left")
        .filter(F.col("comp").isNull() | (F.col(id_col) == F.col("comp")))
        .drop("id", "comp")
    )


def triangle_counts(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Per-vertex triangle participation counts over an undirected
    edge list — the compact-forward / degree-ordered shape.

    Naive triangle enumeration joins edges on a shared endpoint and
    the wedge count explodes as Σ deg² — a hub with 1M neighbors
    yields 10¹² wedges. Orienting every edge from its lower-degree
    endpoint to its higher-degree endpoint (ties by id) bounds
    out-degree by O(√|E|), so the wedge join materializes at most
    Σ out_deg² = O(|E|^1.5) rows — the classic MapReduce triangle
    bound (Suri & Vassilvitskii). Each triangle is enumerated exactly
    once (its two lowest-order edges form the wedge; the closing edge
    is probed with a semi-join-shaped inner join on the oriented
    list).

    Pipeline: degrees (1 shuffle) → oriented edges (broadcast-join of
    the vertex-sized degree table) → wedge self-join on the pivot →
    closure probe on (lo, hi) → explode the 3 corners → per-vertex
    count. All equi-joins; no cross product.
    """
    und = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .unionByName(
            pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v"))
        )
        .distinct()
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # orient u→v iff (deg(u), u) < (deg(v), v): total order, acyclic
    du = deg.select(F.col("u").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    oriented = (
        und.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .filter(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v")
    )
    w1 = oriented.select(F.col("u").alias("pivot"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u").alias("pivot"), F.col("v").alias("y"))
    wedges = w1.join(w2, "pivot").filter(F.col("x") < F.col("y"))
    # closure probe in canonical (lo, hi) form so it stays a HASH
    # equi-join (an OR-of-orientations predicate would force a
    # nested-loop plan); wedges already have x < y
    closing = oriented.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    ).distinct()
    tri = wedges.join(closing, ["x", "y"]).select("pivot", "x", "y")
    corners = (
        tri.select(F.col("pivot").alias("id"))
        .unionAll(tri.select(F.col("x").alias("id")))
        .unionAll(tri.select(F.col("y").alias("id")))
    )
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the
    joins+aggregations form (no GraphX/GraphFrames dependency):
    each iteration is one equi-join of ranks onto edges (shuffle on
    src) and one aggregation of contributions (shuffle on dst), so
    cost is O(iterations · |E|) with no state beyond the rank table.

    Determinism: the per-edge contribution ``rank/out_degree`` is
    quantized to a 1e-12 fixed-point grid (``floor(c * 1e12)`` — a
    single IEEE multiply + floor, bit-identical everywhere) and the
    order-sensitive SUM runs over exact BIGINTs, so ranks are
    independent of partitioning and match the DuckDB oracle
    bit-for-bit. (DECIMAL casts of full-precision doubles are NOT
    parity-safe: Spark HALF_UPs the last digit where DuckDB does
    not — measured 14/20k mismatches at scale 14.) Nodes with no
    inbound edges stay at the damping floor via a left join on the
    full node set; dangling-mass redistribution is deliberately
    omitted (the standard simple variant) and documented here.
    """
    # Pin the loop-invariant tables once (same argument as
    # connected_components' pinned edge list): ``edges`` is often the
    # tail of an upstream plan, and without pinning every iteration —
    # each referencing e twice (contribution join + degree) plus
    # nodes — re-executes it; the final unpinned plan would also
    # nest iteration i-1's whole tree inside iteration i's.
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .distinct()
        .transform(pin)
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .transform(pin)
    )
    degree = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["src"] == ranks["id"])
            .join(degree, "src")
            .select(
                F.col("dst").alias("id"),
                F.floor(F.col("rank") / F.col("out_deg") * F.lit(1e12)).alias(
                    "contrib_fp"
                ),
            )
        )
        incoming = contribs.groupBy("id").agg(
            F.sum("contrib_fp").alias("in_fp")
        )
        ranks = (
            nodes.join(incoming, "id", "left")
            .select(
                "id",
                (
                    F.lit(1.0) - F.lit(damping)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("in_fp"), F.lit(0)).cast("double")
                        / F.lit(1e12)
                    )
                ).alias("rank"),
            )
        )
        # pin each iteration's ranks so iteration i+1's plan starts
        # from materialized rows instead of nesting i's whole tree
        ranks = pin(ranks)
    return ranks


def incremental_components_update(
    prior_labels: DataFrame,
    new_pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 40,
) -> DataFrame:
    """One batch-step of INCREMENTAL connected components (t35): fold
    a batch of newly discovered pairs into a carried label table,
    relabeling AFFECTED components only.

    ``prior_labels`` (id, comp) is a star forest with comp = min
    reachable id — the invariant :func:`connected_components`
    establishes and this update preserves. The batch's new pairs are
    first QUOTIENTED onto cluster roots (each endpoint maps to its
    prior comp, or to itself if unseen): because every old cluster's
    min-id IS its root id, the min id of a merged component equals
    the min node value of the corresponding ROOT-graph component —
    so the iterative propagation runs on the root graph alone
    (O(new pairs) rows per round, #touched-CLUSTERS nodes), and the
    potentially much larger cluster MEMBERSHIP is relabeled by one
    equi-join outside the loop. Labels of untouched components carry
    forward without being read into the propagation at all.
    Per-batch cost O(new pairs + members of touched clusters), with
    the loop itself independent of membership size — the shape that
    keeps an unbounded ingest stream viable even when a few clusters
    grow huge. Returns the updated full label table (id, comp).

    ``max_iterations`` defaults HIGHER than connected_components' own
    20: a single batch's root graph is a SUBGRAPH of the final pair
    graph (it lacks the shortcut edges later batches contribute), so
    its induced paths can be longer than anything the full graph
    exhibits — t53's winnowing batch-0 subgraph at sf0.1 needed >20
    rounds while the full graph converges well under it. The root
    graph is touched-clusters-sized, so extra rounds are cheap, and
    the loop still exits on convergence."""
    # root(x) = prior comp if known, else x itself (new node)
    ra = new_pairs.join(
        prior_labels.select(
            F.col("id").alias(a_col), F.col("comp").alias("__ra")
        ),
        a_col,
        "left",
    )
    rab = ra.join(
        prior_labels.select(
            F.col("id").alias(b_col), F.col("comp").alias("__rb")
        ),
        b_col,
        "left",
    ).select(
        F.coalesce(F.col("__ra"), F.col(a_col)).alias("__ra"),
        F.coalesce(F.col("__rb"), F.col(b_col)).alias("__rb"),
    )
    root_edges = rab.filter(F.col("__ra") != F.col("__rb"))
    root_cc = connected_components(
        root_edges, "__ra", "__rb", max_iterations=max_iterations,
        # root graphs are touched-clusters-sized: every propagation
        # round sits at the local job floor, so the batched
        # convergence check (K=2) trades a possible tiny no-op round
        # for half the per-round driver barriers (r14)
        check_every=2,
    ).select(
        F.col("id").alias("__root"), F.col("comp").alias("__new")
    )
    # Self-merges (both endpoints already in one cluster) produce no
    # root edge; such roots keep their label via the left joins below.
    # Relabel memberships of touched clusters in ONE join; new nodes
    # (roots of themselves) enter from root_cc minus known roots.
    relabeled = (
        prior_labels.join(
            root_cc, prior_labels["comp"] == root_cc["__root"], "left"
        )
        .select(
            "id", F.coalesce(F.col("__new"), F.col("comp")).alias("comp")
        )
    )
    new_nodes = (
        root_cc.join(
            prior_labels.select(F.col("id").alias("__root")),
            "__root",
            "left_anti",
        )
        .select(F.col("__root").alias("id"), F.col("__new").alias("comp"))
    )
    return relabeled.unionByName(new_nodes)
