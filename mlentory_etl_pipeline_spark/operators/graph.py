"""Graph-shaped relational operators (SURVEY §2.4 G8/G9, §2.7 Q1–Q3, §2.1 S12/S14).

The KG is a plain DataFrame of ``(subject, predicate, object,
object_is_uri)`` — graph union is ``unionByName`` + hash-dedup, pivots
are aggregations, and N-Triples serialization is a formatting select.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def union_graphs(*graphs: DataFrame, dedup_cols: tuple[str, ...] = ("subject", "predicate", "object")) -> DataFrame:
    """G8 — graph union with idempotent insertion semantics
    (``GraphBuilderBase.py:121-123`` dup-check + ``MlentoryTransformWith
    GraphBuilder.py:328-369`` union): one union + one hash-partition
    dedup shuffle."""
    return reduce(lambda a, b: a.unionByName(b), graphs).dropDuplicates(list(dedup_cols))


def argmax_per_group(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """G9-style argmax-by-key: keep, per key group, the row maximizing
    ``order_cols`` lexicographically. ``max_by(struct)`` = single
    map-side-combinable agg — preferred over a window sort at scale."""
    payload_cols = [c for c in df.columns if c not in keys]
    order = F.struct(*[F.col(c) for c in order_cols])
    payload = F.struct(*[F.col(c) for c in payload_cols])
    agged = df.groupBy(*keys).agg(F.max_by(payload, order).alias("_p"))
    return agged.select(*keys, *[F.col(f"_p.{c}").alias(c) for c in payload_cols])


def resolve_uris(
    triples: DataFrame,
    names: DataFrame,
    predicates: list[str],
    name_subject_col: str = "subject",
    name_col: str = "name",
) -> DataFrame:
    """Q2 — URI→name resolution (``GraphHandlerForKG.py:217-261``): for
    a configured predicate list, replace the object URI by the target
    entity's name via a self hash-join; unresolved URIs pass through
    (``coalesce``)."""
    n = names.select(
        F.col(name_subject_col).alias("_target"), F.col(name_col).alias("_name")
    )
    resolved = (
        triples.where(F.col("predicate").isin(predicates))
        .join(n, triples["object"] == n["_target"], "left")
        .select(
            "subject",
            "predicate",
            F.coalesce("_name", "object").alias("object"),
        )
    )
    passthrough = triples.where(~F.col("predicate").isin(predicates)).select(
        "subject", "predicate", "object"
    )
    return resolved.unionByName(passthrough)


def platform_of(url: Column) -> Column:
    """Q3 — platform inference by URL prefix (``GraphHandlerForKG.py:300-307``)."""
    return (
        F.when(url.contains("openml.org"), F.lit("openml"))
        .when(url.contains("bioimage.io"), F.lit("ai4life"))
        .otherwise(F.lit("huggingface"))
    )


def _nt_escape(col: Column) -> Column:
    """N-Triples literal escaping: backslash FIRST, then quote, then
    the line-breaking controls — quote-only escaping emitted
    ``"...\\"`` for a literal ending in a backslash, which the source's
    own reader (and any conformant parser, e.g. the reference's
    Virtuoso bulk loader) rejects."""
    out = col
    for find, repl in (
        ("\\", "\\\\"),
        ('"', '\\"'),
        ("\n", "\\n"),
        ("\r", "\\r"),
        ("\t", "\\t"),
    ):
        out = F.replace(out, F.lit(find), F.lit(repl))
    return out


def to_ntriples(triples: DataFrame) -> DataFrame:
    """S12 — N-Triples serialization as a formatting select
    (``MlentoryTransform.py:145-155``): write with ``df.write.text``."""
    obj = F.when(
        F.col("object_is_uri"), F.concat(F.lit("<"), F.col("object"), F.lit(">"))
    ).otherwise(
        F.concat(F.lit('"'), _nt_escape(F.col("object")), F.lit('"'))
    )
    return triples.select(
        F.concat(
            F.lit("<"), F.col("subject"), F.lit("> <"), F.col("predicate"), F.lit("> "),
            obj, F.lit(" ."),
        ).alias("line")
    )


def reified_ntriples(
    triples: DataFrame,
    meta_namespace: str = "https://w3id.org/mlentory/mlentory_graph/meta/",
) -> DataFrame:
    """G7's export half — the reified StatementMetadata N-Triples
    serialization (``GraphBuilderBase.py:103-180``): for every data
    triple, emit the triple itself PLUS the reference's seven
    meta-triples describing its provenance (rdf:type StatementMetadata,
    meta:subject/predicate/object, meta:extractionMethod,
    meta:confidence as xsd:float, meta:extractionTime as xsd:dateTime)
    — 8 lines per statement, so an external SPARQL store ingests the
    knowledge graph WITH its provenance.

    The reference mints a fresh ``BNode()`` per statement; we use the
    deterministic statement key instead — ``_:m<md5(s+p+o)>`` (the
    same md5 the columnar provenance table is keyed by,
    ``GraphHandler.py:200-203``) — so re-exports are idempotent and
    the label is reproducible in any engine. Confidence renders as the
    canonical ``%.5f`` (the ``extraction_info_hash`` contract);
    extraction time as seconds-precision ISO 8601.

    Input columns: ``subject, predicate, object, object_is_uri,
    extraction_method, confidence, extraction_time``.

    Scale posture: pure per-row formatting — one ``select`` building
    an 8-slot array and one ``explode`` (map-side, no shuffle, linear
    8× fan-out). Returns a single ``line`` column for
    ``df.write.text``.
    """
    from mlentory_etl_pipeline_spark.functions.hashing import statement_hash

    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    xsd_float = "<http://www.w3.org/2001/XMLSchema#float>"
    xsd_dt = "<http://www.w3.org/2001/XMLSchema#dateTime>"

    def m(local: str) -> str:
        return f"<{meta_namespace}{local}>"

    def lit_str(col):
        return F.concat(
            F.lit('"'), _nt_escape(col.cast("string")), F.lit('"')
        )

    sid = F.concat(
        F.lit("_:m"),
        statement_hash(F.col("subject"), F.col("predicate"), F.col("object")),
    )
    s_term = F.concat(F.lit("<"), F.col("subject"), F.lit(">"))
    p_term = F.concat(F.lit("<"), F.col("predicate"), F.lit(">"))
    o_term = F.when(
        F.col("object_is_uri"), F.concat(F.lit("<"), F.col("object"), F.lit(">"))
    ).otherwise(lit_str(F.col("object")))
    conf = F.concat(
        F.lit('"'),
        F.format_number(F.col("confidence").cast("double"), 5),
        F.lit(f'"^^{xsd_float}'),
    )
    etime = F.concat(
        F.lit('"'),
        F.date_format(F.col("extraction_time"), "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit(f'"^^{xsd_dt}'),
    )

    def stmt(s, p, o):
        return F.concat(s, F.lit(" "), p, F.lit(" "), o, F.lit(" ."))

    lines = F.array(
        stmt(s_term, p_term, o_term),
        stmt(sid, F.lit(rdf_type), F.lit(m("StatementMetadata"))),
        stmt(sid, F.lit(m("subject")), s_term),
        stmt(sid, F.lit(m("predicate")), p_term),
        stmt(sid, F.lit(m("object")), o_term),
        stmt(sid, F.lit(m("extractionMethod")), lit_str(F.col("extraction_method"))),
        stmt(sid, F.lit(m("confidence")), conf),
        stmt(sid, F.lit(m("extractionTime")), etime),
    )
    return triples.select(F.explode(lines).alias("line"))


def anti_join_delete(current: DataFrame, deprecated: DataFrame) -> DataFrame:
    """S14 — Virtuoso delta-delete re-expressed: remove deprecated
    triples from the current graph via left-anti join
    (``RDFHandler.py:112-144``)."""
    return current.join(
        deprecated, ["subject", "predicate", "object"], "left_anti"
    )


def bounded_path(
    edges: DataFrame,
    min_hops: int = 1,
    max_hops: int = 3,
    src_col: str = "subject",
    dst_col: str = "object",
) -> DataFrame:
    """SPARQL bounded path quantifier (``:p{min,max}``) over an edge
    relation: all (start, end, hops) pairs reachable in ``min..max``
    hops. Each extension round is one hash equi-join of the frontier
    against the (re-used) edge relation — the distributed analogue of
    a recursive CTE with a depth bound, never a driver-side walk.

    At scale the edge table is the join's build side every round — at
    lake scale bucket it by ``src_col`` so the per-round shuffle
    co-locates; frontiers shrink or stay bounded for DAG-ish data.
    Cycles are fine: a (start, end) pair is recorded at its minimum
    depth and deduplicated.
    """
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    frontier = e.select(
        F.col("_s").alias("start_node"), F.col("_d").alias("end_node")
    ).distinct()
    out = frontier.withColumn("hops", F.lit(1)) if min_hops <= 1 else None
    for depth in range(2, max_hops + 1):
        frontier = (
            frontier.alias("f")
            .join(e.alias("e"), F.col("f.end_node") == F.col("e._s"))
            .select(F.col("f.start_node"), F.col("e._d").alias("end_node"))
            .distinct()
        )
        if depth >= min_hops:
            step = frontier.withColumn("hops", F.lit(depth))
            out = step if out is None else out.unionByName(step)
    # keep each (start, end) at its minimum depth
    return (
        out.groupBy("start_node", "end_node").agg(F.min("hops").alias("hops"))
        if out is not None
        else frontier.withColumn("hops", F.lit(max_hops)).limit(0)
    )


def oriented_edges(
    edges: DataFrame, u_col: str = "u", v_col: str = "v", orient_by: str = "id"
) -> DataFrame:
    """Orient an undirected edge list (each edge once, either endpoint
    order) by a total order over nodes, returning ``(u, v)`` with u
    strictly before v in that order.

    - ``orient_by="id"``: plain ``least/greatest`` — map-only, but a
      hub whose id sits mid-range keeps ~half its edges outgoing, so
      the wedge join below it blows up Θ(deg²) on skewed graphs.
    - ``orient_by="degree"``: order by ``(degree, id)`` — every edge
      points from its lower-degree endpoint toward the higher-degree
      one, so a hub's oriented OUT-degree is ~0 and the wedge
      intermediate is bounded by Σ min(deg(u), deg(v)) per edge
      (the O(m^1.5) triangle-listing bound). Costs one degree
      aggregation plus two equi-joins to attach degrees — the standard
      price for skew immunity at 100 TB.
    """
    e = edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v"))
    if orient_by == "id":
        return e.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
    assert orient_by == "degree", f"unknown orient_by={orient_by!r}"
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    j = (
        e.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("_du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("_dv")), "v")
    )
    u_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    return j.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("u"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("v"),
    )


def triangle_counts(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    orient_by: str = "id",
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list (each edge
    appears once): orient every edge by a total node order
    (:func:`oriented_edges`), then two hash equi-joins find each
    triangle exactly once as an ordered (a, b, c), and the three
    corners fan back out to their nodes.

    The oriented join is the classic distributed shape (no triangle is
    counted 6x, no node joins against its full neighborhood twice).
    ``orient_by="id"`` is map-only but skew-fragile;
    ``orient_by="degree"`` points every edge at the higher-degree
    endpoint so hubs never become the fan-out side — the wedge
    intermediate stays near-linear on hub graphs where id orientation
    is Θ(hub_degree²) (asserted in tests on a star graph). Counts are
    identical either way (any total order finds each triangle once).
    Returns ``(node, n_triangles)`` for nodes in >= 1 triangle.
    """
    e = oriented_edges(edges, u_col, v_col, orient_by)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .select(
            F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
        )
    )
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    iters: int = 8,
    damping_pct: int = 85,
    scale: int = 10**9,
) -> DataFrame:
    """Deterministic PageRank over a DIRECTED edge list (symmetrize
    upstream for undirected graphs): fixed iteration count with the
    ENTIRE fold in scaled-integer arithmetic (ranks are longs in
    ``1/scale`` units, damping the rational ``damping_pct/100``), so
    contribution sums are order-independent — no float summation
    anywhere means results are bit-identical across partitionings,
    engines, AND replayable in SQL (the registry query's DuckDB oracle
    unrolls the same ``iters`` integer iterations). Each floor loses
    < 1/scale per node per step, so total mass is 1 − O(iters·n/scale)
    (asserted in tests).

    Scale shape per iteration: contributions = edges ⋈ ranks ⋈ degree
    (degree broadcast), grouped by destination — ONE shuffle keyed by
    node, exactly pregel's message pattern; ``localCheckpoint`` pins
    each iteration so the plan stays O(1) per round instead of
    unrolling. Dangling mass redistributes uniformly. Returns
    ``(node, rank)`` with ``rank = rank_units / scale`` rounded 9 dp.
    """
    e = edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v")).localCheckpoint(
        eager=False
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    deg = e.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("_n")))
    # exact floors: all operands stay < 2^53, so the double divisions
    # below are correctly rounded and their floors are exact integers
    ranks = nodes.crossJoin(n_nodes).select(
        "node", F.floor(F.lit(scale) / F.col("_n")).alias("rs")
    )
    for _ in range(iters):
        with_deg = ranks.join(
            F.broadcast(deg), "node", "left"
        )  # deg null => dangling node
        contribs = (
            e.join(
                with_deg.where(F.col("deg").isNotNull()).withColumnRenamed("node", "u"),
                "u",
            )
            .select(
                F.col("v").alias("node"),
                F.floor(F.col("rs") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("_in"))
        )
        dangling = F.broadcast(
            with_deg.where(F.col("deg").isNull()).agg(
                F.coalesce(F.sum("rs"), F.lit(0)).cast("long").alias("_dang")
            )
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(n_nodes)
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.floor(F.lit(scale * (100 - damping_pct)) / (F.lit(100) * F.col("_n")))
                    + F.floor(
                        F.lit(damping_pct)
                        * (
                            F.coalesce(F.col("_in"), F.lit(0))
                            + F.floor(F.col("_dang") / F.col("_n"))
                        )
                        / F.lit(100)
                    )
                ).alias("rs"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        "node", F.round(F.col("rs") / F.lit(float(scale)), 9).alias("rank")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    u_col: str = "u",
    v_col: str = "v",
    iters: int = 8,
    damping_pct: int = 85,
    scale: int = 10**9,
) -> DataFrame:
    """Personalized PageRank: identical scaled-integer fold to
    :func:`pagerank`, but ALL teleport mass (and dangling mass) lands
    on the ``seeds`` instead of spreading uniformly — rank becomes
    "proximity to the seed set", the related-entity recommender over
    the KG (the principled version of the reference's one-hop
    related-entity harvest, ``HFExtractor related entities``: PPR
    scores multi-hop neighborhoods instead of enumerating hop-1).

    Seeds are a literal list (a PPR query's seed set is a handful of
    entities — compile-time constants, like the LSH hyperplanes), so
    seed membership is a broadcast-free array_contains and the fold
    stays SQL-oracle-expressible. All arithmetic is exact longs in
    ``1/scale`` units (teleport share ``scale·(100−d)/(100·|seeds|)``
    floored once in Python); per-iteration shape is pagerank's: one
    destination-keyed shuffle + a broadcast degree join, plan pinned
    per round via localCheckpoint.
    """
    if not seeds:
        raise ValueError("personalized_pagerank needs >= 1 seed")
    n_seeds = len(seeds)
    seed_arr = F.array(*[F.lit(s) for s in seeds])
    e = edges.select(
        F.col(u_col).alias("u"), F.col(v_col).alias("v")
    ).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    deg = e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    is_seed = F.array_contains(seed_arr, F.col("node"))
    ranks = nodes.select(
        "node",
        F.when(is_seed, F.lit(scale // n_seeds))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rs"),
    )
    teleport = scale * (100 - damping_pct) // (100 * n_seeds)
    for _ in range(iters):
        with_deg = ranks.join(F.broadcast(deg), "node", "left")
        contribs = (
            e.join(
                with_deg.where(F.col("deg").isNotNull()).withColumnRenamed(
                    "node", "u"
                ),
                "u",
            )
            .select(
                F.col("v").alias("node"),
                F.floor(F.col("rs") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("_in"))
        )
        dangling = F.broadcast(
            with_deg.where(F.col("deg").isNull()).agg(
                F.coalesce(F.sum("rs"), F.lit(0)).cast("long").alias("_dang")
            )
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.when(is_seed, F.lit(teleport)).otherwise(F.lit(0))
                    + F.floor(
                        F.lit(damping_pct)
                        * (
                            F.coalesce(F.col("_in"), F.lit(0))
                            + F.when(
                                is_seed,
                                F.floor(F.col("_dang") / F.lit(n_seeds)),
                            ).otherwise(F.lit(0))
                        )
                        / F.lit(100)
                    )
                )
                .cast("long")
                .alias("rs"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        "node", F.round(F.col("rs") / F.lit(float(scale)), 9).alias("ppr")
    )


def label_propagation(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    iters: int = 4,
) -> DataFrame:
    """Deterministic synchronous label propagation over an UNDIRECTED
    edge list (pass each edge once; symmetrized internally) — the
    community-detection primitive behind dedup-cluster topology
    analysis and mirror-site grouping (Raghavan et al. 2007, made
    deterministic so it can carry a hard SQL oracle).

    Every node starts labeled with its own id; each round every node
    adopts the label carried by the PLURALITY of its neighbors, ties
    broken by MINIMUM label — a total order, so the synchronous fold
    is a pure function of the edge list. Counts are integers and the
    tie-break is an argmin, so a FIXED ``iters`` replays bit-identical
    in SQL: the registry oracle unrolls the same rounds (count CTE →
    per-node max → min-label pick), the same scheme as the unrolled
    integer PageRank.

    Scale shape per round: one message join (edges ⋈ labels, keyed by
    source), one (node, label) count aggregation (map-side combined),
    one per-node argmax window (keyed by node, never global), one
    label update join — all shuffles keyed by node;
    ``localCheckpoint`` pins each round so the plan stays O(1) per
    round. Synchronous updates can two-cycle on bipartite structures
    — ``iters`` is the contract (a snapshot of the fold), not a
    convergence promise.

    Returns ``(node, community)`` ordered by node.
    """
    from pyspark.sql import Window as W

    half = edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v"))
    e = (
        half.unionByName(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = e.select(F.col("u").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("lab"))
    w = W.partitionBy("node").orderBy(F.desc("n"), F.asc("lab"))
    for _ in range(iters):
        msgs = e.join(
            labels.withColumnRenamed("node", "u"), "u"
        ).select(F.col("v").alias("node"), "lab")
        counts = msgs.groupBy("node", "lab").agg(F.count(F.lit(1)).alias("n"))
        picked = (
            counts.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .select("node", F.col("lab").alias("_new"))
        )
        labels = (
            labels.join(picked, "node", "left")
            .select("node", F.coalesce(F.col("_new"), F.col("lab")).alias("lab"))
            .localCheckpoint(eager=False)
        )
    return labels.select("node", F.col("lab").alias("community")).orderBy("node")


def k_core(
    edges: DataFrame,
    k: int,
    u_col: str = "u",
    v_col: str = "v",
    rounds: int = 12,
) -> DataFrame:
    """k-core decomposition by iterative peeling over an UNDIRECTED
    edge list (pass each edge once, either orientation): repeatedly
    drop every node with degree < ``k`` until fixpoint — the standard
    subgraph-density primitive (community seeds, spam-ring cores,
    influence backbones).

    Runs exactly ``rounds`` peels (early-exiting once converged, which
    cannot change the result: past the fixpoint a peel is the
    identity) so the fold is replayable in SQL — the registry query's
    DuckDB oracle unrolls the SAME ``rounds`` iterations, making even
    a non-converged prefix bit-identical across engines. Each round is
    ONE degree aggregation (explode both endpoints, map-side combined)
    + two semi-joins of the edge list against the surviving node set —
    the survivor set only shrinks, so Catalyst broadcasts it once it
    fits; ``localCheckpoint`` pins each round so the plan stays O(1)
    per peel instead of unrolling a 12-deep join tree. Shuffle volume
    per round is bounded by the CURRENT edge count, monotonically
    non-increasing — the peeling cascade gets cheaper every round,
    never dearer.

    Returns ``(node, core_degree)`` — the degree WITHIN the k-core —
    for every surviving node, ordered by node.
    """
    e = edges.select(
        F.col(u_col).alias("u"), F.col(v_col).alias("v")
    ).localCheckpoint(eager=True)
    prev_n = e.count()
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        keep = deg.where(F.col("n") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
        n = e.count()
        if n == prev_n:
            break
        prev_n = n
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("node")
    )


def _basket_items(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_items_per_basket: int | None,
) -> DataFrame:
    """Distinct ``(_b, _i)`` basket membership, optionally hard-capped
    per basket (top-cap items by corpus frequency DESC, item ASC — the
    ``pmi_top_pairs``/``max_words_per_doc`` scheme) so one hot basket
    can't detonate the downstream pair self-join's cap²/2 fan-out."""
    items = df.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct()
    if max_items_per_basket is not None:
        from pyspark.sql import Window

        freq = items.groupBy("_i").agg(F.count(F.lit(1)).alias("_fi"))
        wb = Window.partitionBy("_b").orderBy(F.desc("_fi"), F.asc("_i"))
        items = (
            items.join(F.broadcast(freq), "_i")
            .withColumn("_ir", F.row_number().over(wb))
            .where(F.col("_ir") <= max_items_per_basket)
            .select("_b", "_i")
        )
    return items


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_items_per_basket: int | None = None,
) -> DataFrame:
    """Directed association rules A → B over basket co-occurrence —
    the classic market-basket step AFTER pair counting
    (:func:`cooccurrence_pairs` ranks pairs; this normalizes them into
    actionable rules): for every ordered pair with
    ``n_pair >= min_pair_count``,

    - ``support    = n_pair / N``        (how common the pattern is),
    - ``confidence = n_pair / n_a``      (P(B in basket | A in basket)),
    - ``lift       = n_pair·N / (n_a·n_b)`` (association beyond chance)

    — all one division of exact integer products, rounded 6 dp, so
    rows are engine-reproducible. Both orientations of each unordered
    pair are emitted (confidence is asymmetric).

    Scale posture: identical to :func:`cooccurrence_pairs` — per-basket
    DISTINCT items, basket-keyed pair self-join (fan-out bounded by
    items-per-basket via ``max_items_per_basket``, never catalog
    size), map-side-combined pair counts, broadcast item marginals and
    1-row basket count. Output is support-thresholded, not top-k: the
    threshold IS the size bound (a pair must appear in
    ``min_pair_count`` baskets to survive)."""
    items = _basket_items(df, basket_col, item_col, max_items_per_basket)
    marg = items.groupBy("_i").agg(F.count(F.lit(1)).alias("_ni"))
    nb = items.select("_b").distinct().agg(F.count(F.lit(1)).alias("_nb"))
    pairs = (
        items.alias("a")
        .join(items.alias("b"), "_b")
        .where(F.col("a._i") < F.col("b._i"))
        .groupBy(
            F.col("a._i").alias("_x"), F.col("b._i").alias("_y")
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_pair_count)
    )
    # Both orientations via a map-side explode — NOT a union of two
    # selects over `pairs`, which would run the basket self-join and
    # pair aggregation twice (two lineage consumers = two computations).
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_x").alias("antecedent"),
                    F.col("_y").alias("consequent"),
                    F.col("n_pair"),
                ),
                F.struct(
                    F.col("_y").alias("antecedent"),
                    F.col("_x").alias("consequent"),
                    F.col("n_pair"),
                ),
            )
        ).alias("_r")
    ).select("_r.antecedent", "_r.consequent", "_r.n_pair")
    return (
        directed.join(
            F.broadcast(marg.withColumnRenamed("_i", "antecedent")),
            "antecedent",
        )
        .withColumnRenamed("_ni", "_na")
        .join(
            F.broadcast(marg.withColumnRenamed("_i", "consequent")),
            "consequent",
        )
        .withColumnRenamed("_ni", "_nc")
        .crossJoin(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            "n_pair",
            F.round(
                F.col("n_pair").cast("double") / F.col("_nb").cast("double"),
                6,
            ).alias("support"),
            F.round(
                F.col("n_pair").cast("double") / F.col("_na").cast("double"),
                6,
            ).alias("confidence"),
            F.round(
                (F.col("n_pair") * F.col("_nb")).cast("double")
                / (F.col("_na") * F.col("_nc")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


def cooccurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    top_k: int = 100,
    max_items_per_basket: int | None = None,
) -> DataFrame:
    """Market-basket co-occurrence: the top item pairs appearing in
    the same basket, with lift — the collaborative-filtering /
    frequently-bought-together primitive (also the co-citation and
    co-edit signal in provenance graphs; ``pmi_top_pairs`` is its
    log-scaled text twin, this is the count/lift form over explicit
    baskets).

    ``lift = n_ab·N / (n_a·n_b)`` closes as one division of exact
    integer products (N = basket count rides as a 1-row in-plan
    broadcast). Ranking (n_pairs DESC, pair ASC) is a total order on
    integers, so the top-k is value-hash-stable.

    Scale posture: per-basket DISTINCT items first; the pair
    self-join is BASKET-keyed (fan-out quadratic in items-per-basket
    — bounded by basket size, not catalog size), pair counts map-side
    combined; item marginals broadcast. For adversarial baskets set
    ``max_items_per_basket``: a basket-keyed window keeps each
    basket's top-cap items by (corpus frequency DESC, item ASC) —
    the ``pmi_top_pairs``/``max_words_per_doc`` scheme — hard-bounding
    the per-basket pair fan-out to cap²/2; one hot basket at lake
    scale is otherwise a fan-out bomb. Marginals are computed AFTER
    the cap so lift's n_a·n_b stays consistent with the pairs
    actually counted. Returns ``(item_a, item_b, n_pairs, lift)``.
    """
    items = _basket_items(df, basket_col, item_col, max_items_per_basket)
    marg = items.groupBy("_i").agg(F.count(F.lit(1)).alias("_ni"))
    nb = items.select("_b").distinct().agg(F.count(F.lit(1)).alias("_nb"))
    pairs = (
        items.alias("a")
        .join(items.alias("b"), "_b")
        .where(F.col("a._i") < F.col("b._i"))
        .groupBy(
            F.col("a._i").alias("item_a"), F.col("b._i").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .where(F.col("n_pairs") >= min_pair_count)
    )
    return (
        pairs.join(
            F.broadcast(marg.withColumnRenamed("_i", "item_a")), "item_a"
        )
        .withColumnRenamed("_ni", "_na")
        .join(F.broadcast(marg.withColumnRenamed("_i", "item_b")), "item_b")
        .withColumnRenamed("_ni", "_nbm")
        .crossJoin(F.broadcast(nb))
        .orderBy(F.desc("n_pairs"), "item_a", "item_b")
        .limit(top_k)
        .select(
            "item_a",
            "item_b",
            "n_pairs",
            F.round(
                (F.col("n_pairs") * F.col("_nb")).cast("double")
                / (F.col("_na") * F.col("_nbm")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


def _term(col_uri_flag: Column, obj: Column) -> Column:
    """NT-style object term: ``<uri>`` or escaped ``"literal"``."""
    return F.when(
        col_uri_flag, F.concat(F.lit("<"), obj, F.lit(">"))
    ).otherwise(
        F.concat(F.lit('"'), _nt_escape(obj), F.lit('"'))
    )


def _compact(uri: Column, prefixes: dict[str, str]) -> Column:
    """Prefix-compress a URI against ``prefixes`` (longest namespace
    wins); falls back to ``<uri>``."""
    expr = F.concat(F.lit("<"), uri, F.lit(">"))
    for pfx, ns in sorted(prefixes.items(), key=lambda kv: -len(kv[1])):
        expr = F.when(
            uri.startswith(ns),
            F.concat(F.lit(pfx + ":"), F.substring(uri, len(ns) + 1, 10_000)),
        ).otherwise(expr)
    return expr


def to_turtle(triples: DataFrame, prefixes: dict[str, str]) -> DataFrame:
    """S12 — Turtle serialization (``MlentoryTransform.py:145-155``,
    ``format="turtle"``): one SUBJECT BLOCK per row with
    ``;``-grouped predicates and prefix-compressed URIs — the
    human-readable sibling of :func:`to_ntriples` (which stays the
    bulk-load format: line-per-triple splits anywhere, a Turtle block
    must stay whole, which is exactly why block = row here).

    Deterministic: predicates order by (predicate-term, object-term)
    inside the block; subjects order the output. The ``@prefix``
    header is one literal line per entry of ``prefixes`` — the
    writer prepends it (header content is config, not data). Pure
    formatting: one group-keyed collect + array_sort + join; no
    Python.
    """
    pe = F.concat(
        _compact(F.col("predicate"), prefixes),
        F.lit(" "),
        F.when(
            F.col("object_is_uri"),
            _compact(F.col("object"), prefixes),
        ).otherwise(_term(F.col("object_is_uri"), F.col("object"))),
    )
    return (
        triples.select(
            _compact(F.col("subject"), prefixes).alias("subject_term"), pe.alias("_pe")
        )
        .groupBy("subject_term")
        .agg(F.array_sort(F.collect_list("_pe")).alias("_pes"))
        .select(
            "subject_term",
            F.size("_pes").alias("n_predicates"),
            F.concat(
                F.col("subject_term"),
                F.lit(" "),
                F.array_join("_pes", " ;\n    "),
                F.lit(" ."),
            ).alias("turtle"),
        )
        .orderBy("subject_term")
    )


def to_jsonld(triples: DataFrame) -> DataFrame:
    """S12 — expanded JSON-LD serialization
    (``MlentoryTransform.py:145-155``, ``format="json-ld"``): one
    node object per subject, ``{"@id": s, p: [{"@id"|"@value": o},
    …], …}`` with predicates and objects deterministically sorted.

    Built by STRING CONCATENATION, not a JSON library: dynamic keys
    with heterogeneous value types (the ``@id`` string next to
    predicate arrays) don't fit a single Spark map type, and a
    symmetric string build is what lets the oracle reproduce the
    document BYTE-FOR-BYTE in SQL. Literal values get minimal JSON
    escaping (backslash, quote); the plan shape (two nested
    group-keyed folds, map-side formatting, no Python) is the point.
    """
    # minimal JSON string escaping for literals (backslash first, then
    # quote) — URIs are quote-free by construction upstream
    esc = F.replace(
        F.replace(F.col("object"), F.lit("\\"), F.lit("\\\\")),
        F.lit('"'),
        F.lit('\\"'),
    )
    obj_json = F.when(
        F.col("object_is_uri"),
        F.concat(F.lit('{"@id":"'), F.col("object"), F.lit('"}')),
    ).otherwise(F.concat(F.lit('{"@value":"'), esc, F.lit('"}')))
    per_pred = (
        triples.select("subject", "predicate", obj_json.alias("_oj"))
        .groupBy("subject", "predicate")
        .agg(F.array_sort(F.collect_list("_oj")).alias("_objs"))
        .select(
            "subject",
            F.concat(
                F.lit('"'), F.col("predicate"), F.lit('":['),
                F.array_join("_objs", ","), F.lit("]"),
            ).alias("_entry"),
        )
    )
    return (
        per_pred.groupBy("subject")
        .agg(F.array_sort(F.collect_list("_entry")).alias("_entries"))
        .select(
            "subject",
            F.concat(
                F.lit('{"@id":"'), F.col("subject"), F.lit('",'),
                F.array_join("_entries", ","), F.lit("}"),
            ).alias("jsonld"),
        )
        .orderBy("subject")
    )


def jaccard_link_prediction(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    max_degree: int | None = None,
    min_common: int = 1,
    top_k: int = 100,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction over an UNDIRECTED edge
    list (symmetrize upstream): for node pairs sharing ≥ ``min_common``
    neighbors, ``J = |N(u)∩N(v)| / |N(u)∪N(v)|`` — and only NON-edges
    are returned (the point is predicting links that don't exist yet:
    the related-supplier / who-to-connect recommender, the local
    sibling of :func:`personalized_pagerank`'s global proximity).

    Exactness: common = wedge count through shared neighbors (exact
    integers), union = deg(u) + deg(v) − common, J one division;
    ranking (J DESC, pair ASC) is a total order after rounding both
    engines identically.

    Scale posture: the wedge self-join fans out Σ_w deg(w)² — the
    triangle-counting hazard — so ``max_degree`` DROPS hub nodes from
    the wedge center role (standard link-prediction practice: a hub
    connecting everyone predicts nothing); degrees broadcast; the
    existing-edge filter is one anti-join; top-k is TakeOrdered.
    """
    e = edges.select(
        F.col(u_col).alias("_u"), F.col(v_col).alias("_v")
    ).distinct().localCheckpoint(eager=False)
    deg = e.groupBy(F.col("_u").alias("_n")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    centers = e if max_degree is None else (
        e.join(
            F.broadcast(
                deg.where(F.col("_deg") <= max_degree).select(
                    F.col("_n").alias("_u")
                )
            ),
            "_u",
        )
    )
    wedges = (
        centers.alias("a")
        .join(centers.alias("b"), "_u")
        .where(F.col("a._v") < F.col("b._v"))
        .groupBy(F.col("a._v").alias("x"), F.col("b._v").alias("y"))
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    non_edges = wedges.join(
        e.select(F.col("_u").alias("x"), F.col("_v").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    scored = (
        non_edges.join(
            F.broadcast(deg.withColumnRenamed("_n", "x")), "x"
        )
        .withColumnRenamed("_deg", "_dx")
        .join(F.broadcast(deg.withColumnRenamed("_n", "y")), "y")
        .withColumnRenamed("_deg", "_dy")
        .select(
            "x",
            "y",
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("_dx") + F.col("_dy") - F.col("common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), F.asc("x"), F.asc("y")
    ).limit(top_k)


def hits(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    iters: int = 4,
    scale: int = 10**9,
) -> DataFrame:
    """Deterministic HITS (Kleinberg hubs & authorities) over a
    DIRECTED edge list — the link-analysis dual of :func:`pagerank`
    for bipartite-flavored graphs (supplier→part, user→document):
    hubs point at good authorities, authorities are pointed at by good
    hubs. The reference ranks related entities by one-hop counts only
    (``GraphHandler`` query surface); HITS is the two-sided mutual
    refinement of that.

    Fixed-iteration fold entirely in scaled-long arithmetic (the
    pagerank/Lloyd's precedent, graph.py:315): each half-step sums
    integer scores over edges (order-independent longs) then
    max-normalizes back to ``scale`` units via ONE integral divide in
    DECIMAL(38,0) — ``floor(raw·scale / max_raw)`` — so the whole
    fixpoint is bit-replicable and the registry oracle unrolls the same
    iterations in SQL.

    Scale shape per iteration: two shuffles (messages grouped by
    destination, then by source) against the static edge list, each
    max-normalization a broadcast one-row apex — pregel's message
    pattern, O(1) plan size via localCheckpoint pinning.

    Returns ``(side, node, score)``: side ``'hub'`` for u-nodes,
    ``'auth'`` for v-nodes, score in [0, 1] rounded 9 dp (max node =
    1.0 by construction). Precondition: ``edges`` nonempty.
    """
    e = edges.select(
        F.col(u_col).alias("u"), F.col(v_col).alias("v")
    ).localCheckpoint(eager=False)
    hubs = e.select(F.col("u").alias("node")).distinct()
    auths = e.select(F.col("v").alias("node")).distinct()
    h = hubs.select("node", F.lit(scale).cast("long").alias("hs"))

    def _norm(df: DataFrame, raw: str) -> DataFrame:
        mx = F.broadcast(df.agg(F.max(raw).alias("_mx")))
        return df.crossJoin(mx).select(
            "node",
            F.expr(
                f"CAST(CAST({raw} AS DECIMAL(38,0)) * {scale} DIV _mx AS BIGINT)"
            ).alias(raw),
        )

    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("hs").alias("as_"))
        )
        a = _norm(
            auths.join(a_raw, "node", "left").select(
                "node", F.coalesce("as_", F.lit(0)).alias("as_")
            ),
            "as_",
        ).localCheckpoint(eager=False)
        h_raw = (
            e.join(a.withColumnRenamed("node", "v").withColumnRenamed("as_", "as2"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("as2").alias("hs"))
        )
        h = _norm(
            hubs.join(h_raw, "node", "left").select(
                "node", F.coalesce("hs", F.lit(0)).alias("hs")
            ),
            "hs",
        ).localCheckpoint(eager=False)
    out_h = h.select(
        F.lit("hub").alias("side"),
        "node",
        F.round(F.col("hs") / F.lit(float(scale)), 9).alias("score"),
    )
    out_a = a.select(
        F.lit("auth").alias("side"),
        "node",
        F.round(F.col("as_") / F.lit(float(scale)), 9).alias("score"),
    )
    return out_h.unionByName(out_a)
