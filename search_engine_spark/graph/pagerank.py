"""DataFrame PageRank — the popularity prior (G1).

Reference semantics (``Popularity/PageRank.java:18-95``): d=0.85, uniform
init 1/N, dangling mass redistributed uniformly, L1-normalize every
iteration, converge on max |delta| < 1e-6, cap 100 iterations. The reference
loops O(V*E) single-threaded over an in-memory adjacency map; here each
iteration is an edge join + aggregate (shuffle hash join on src), with the
rank vector checkpointed via localCheckpoint every iteration to truncate
lineage — the standard scalable formulation. The previous ranks ride into
the aggregate through a union, not a second join: Catalyst estimates a
join's size as the product of its inputs and a checkpoint keeps that
estimate, so a rank vector joined twice per iteration would square the
estimate every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85          # PageRank.java:18
EPSILON = 1e-6          # PageRank.java:19
MAX_ITERATIONS = 100    # PageRank.java:20

DEFAULT_POPULARITY = 0.5  # fixture default, query_results.json popularity


def pagerank(
    edges: DataFrame,
    damping: float = DAMPING,
    epsilon: float = EPSILON,
    max_iter: int = MAX_ITERATIONS,
) -> DataFrame:
    """edges: (src, dst). Returns (node, rank). Nodes = union of src/dst."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))

    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg")).persist()
    # flag dangling nodes (no out-edges) once: the per-iteration dangling
    # mass then falls out of the same aggregation pass as the L1 total
    nodes_f = nodes.join(
        out_deg.select(F.col("src").alias("node"), F.lit(True).alias("_has_out")),
        "node",
        "left",
    ).select("node", F.col("_has_out").isNull().alias("is_dangling")).persist()
    n_dangling = nodes_f.filter("is_dangling").count()
    # uniform init -> iteration 0's dangling mass is known without a scan
    dangling = n_dangling / n * 1.0
    ranks = nodes_f.select(
        "node", "is_dangling", F.lit(1.0 / n).alias("rank")
    ).localCheckpoint()

    for it in range(max_iter):
        prev = ranks
        contribs = (
            edges.join(prev, edges.src == prev.node)
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
        )
        # dangling mass redistributed uniformly (PageRank.java:46-50)
        base = (1.0 - damping) / n + damping * dangling / n
        # each node's previous rank and dangling flag join its in-edge
        # contributions in ONE aggregate (null-padded union rows)
        new_ranks = (
            prev.withColumnRenamed("rank", "prev_rank")
            .unionByName(contribs, allowMissingColumns=True)
            .groupBy("node")
            .agg(
                F.max("is_dangling").alias("is_dangling"),
                F.max("prev_rank").alias("prev_rank"),
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.sum("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        # ONE action per iteration: the lazy localCheckpoint materializes on
        # the agg below (truncating lineage), and that single pass yields the
        # L1 total (PageRank.java:65-69), the NEXT iteration's dangling mass
        # (PageRank.java:46-50), and the convergence delta (PageRank.java:
        # 85-95) together — previously three separate driver actions.
        new_ranks = new_ranks.localCheckpoint(eager=False)
        row = new_ranks.agg(
            F.sum("rank").alias("total"),
            F.sum(F.when(F.col("is_dangling"), F.col("rank")).otherwise(0.0))
            .alias("dangling"),
            F.max(F.abs(F.col("rank") - F.col("prev_rank"))).alias("delta"),
        ).collect()[0]
        total = float(row["total"] or 1.0)
        dangling = float(row["dangling"] or 0.0) / total
        ranks = new_ranks.select(
            "node", "is_dangling", (F.col("rank") / F.lit(total)).alias("rank")
        )
        # convergence on max |delta| vs the pre-normalization ranks: the
        # update conserves mass exactly ((1-d) + d*(edge + dangling mass)),
        # so |total - 1| is float roundoff (~n*eps) and the delta differs
        # from the reference's post-normalization delta by O(rank*eps) —
        # far below any meaningful epsilon. With epsilon<=0 the caller
        # wants exactly max_iter iterations (oracle parity mode).
        if epsilon > 0:
            delta = row["delta"]
            if delta is not None and delta < epsilon:
                break
    return ranks.select("node", "rank")


def conversation_graph(docs: DataFrame) -> DataFrame:
    """Derive a conversation-reference graph from the transcripts corpus
    (SURVEY.md §2.10 "transcripts analog"): within a conversation each turn
    endorses the previous turn (reply structure), and tool turns endorse the
    assistant turn that invoked them. Deterministic, derived purely from
    the corpus — the analog of pages.outgoingLinks (PageRank.java:97-136)."""
    a = docs.select("doc_id", "conv_id", "turn_idx", "role")
    b = docs.select(
        F.col("doc_id").alias("prev_doc_id"),
        F.col("conv_id").alias("p_conv"),
        F.col("turn_idx").alias("p_idx"),
    )
    return (
        a.join(
            b,
            (a.conv_id == b.p_conv) & (a.turn_idx == b.p_idx + 1),
        )
        .select(F.col("doc_id").alias("src"), F.col("prev_doc_id").alias("dst"))
    )


def write_popularity(spark, store, ranks: DataFrame) -> None:
    """G2 rank->popularity writeback (PageRank.java:138-171): join ranks
    onto the doc registry and rewrite it with a ``popularity`` column
    (min-max scaled to [0,1] like a prior; docs outside the graph get the
    fixture default 0.5)."""
    docs = store.docs(spark)
    stats = ranks.agg(
        F.min("rank").alias("lo"), F.max("rank").alias("hi")
    ).collect()[0]
    lo, hi = float(stats["lo"] or 0.0), float(stats["hi"] or 1.0)
    span = (hi - lo) or 1.0
    scaled = ranks.select(
        F.col("node").alias("doc_id"),
        ((F.col("rank") - F.lit(lo)) / F.lit(span)).alias("popularity"),
    )
    out = docs.drop("popularity").join(scaled, "doc_id", "left").withColumn(
        "popularity", F.coalesce(F.col("popularity"), F.lit(DEFAULT_POPULARITY))
    )
    # rewrite via a temp dir: the source of the plan is the same parquet dir.
    # The swap goes through IndexStore (Iceberg equivalent: overwrite commit)
    # so operator code never touches the filesystem directly.
    tmp = store.docs_path + "_tmp"
    out.write.mode("overwrite").parquet(tmp)
    store.replace_dir(tmp, store.docs_path)
