"""Embedding clustering and graph scoring: deterministic Lloyd k-means,
SemDeDup-style intra-cluster near-dedup, and weighted PageRank.

SemDeDup (Abbas et al. 2023) is the scale answer to embedding
near-dedup that LSH doesn't give you: cluster the corpus first (cheap,
k ≪ N centroids), then run exact pairwise cosine ONLY inside each
cluster — the quadratic term is bounded by the largest cluster instead
of N. The k-means here is the from-first-principles DataFrame variant:
centroids live in a k-row DataFrame (never collected to the driver),
assignment is a broadcast join + min_by, and the centroid update is a
posexplode → groupBy(cluster, dim) avg — every stage map-side-partial
and linear in N·dim per iteration.

Determinism (these ops are oracle-replayed in DuckDB): centroid init is
the k smallest vec_ids (not a random sample), distances and centroid
means are rounded to 6 decimals each iteration, and every argmin tie
breaks on the smaller centroid id. Rounding each iteration means both
engines iterate from bit-identical centroids, so IEEE sum-order
differences cannot compound across iterations.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warp_pipe_spark.datapipe.dedup import _cos6, _scorable


def _sqdist(a, b):
    """Elementwise squared L2 distance between two array<double> cols,
    folded JVM-side (zip_with + aggregate — one codegen'd expression,
    sequential fold so the IEEE sum order matches DuckDB's
    list_reduce)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest centroid per vector: broadcast the k-row centroid table,
    fold the distance in-row, min_by on (dist, cid) — no window, one
    groupBy keyed by vec_id that AQE coalesces. Rounded distance +
    cid tie-break keeps the argmin engine-independent."""
    scored = vecs.join(F.broadcast(cent)).select(
        "vec_id",
        "v",
        "cid",
        F.round(_sqdist(F.col("v"), F.col("cv")), 6).alias("dist"),
    )
    return scored.groupBy("vec_id").agg(
        F.min(F.struct("dist", "cid")).alias("best"),
        F.first("v").alias("v"),
    ).select(
        "vec_id", "v", F.col("best.cid").alias("cluster"), F.col("best.dist").alias("dist")
    )


def _assign_vec(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """Arrow-vectorized nearest-centroid: the k×dim centroid matrix is
    collected once (bounded: k·dim doubles — the same bounded-collect
    contract as the IVF probe) and broadcast; each Arrow batch does one
    float64 einsum instead of N·k interpreted zip_with folds. Distances
    use the ‖v‖²−2v·C+‖C‖² expansion clamped at 0 (cancellation on
    exact duplicates can dip ~−1e−16, and −0.0 would round-trip as a
    different string than 0.0), rounded to 6 dp; np.argmin over
    cid-sorted columns breaks ties toward the smaller cid — the same
    contract as the fold path, differing only in float64 summation
    association (~1e−15), far inside the 6-dp rounding margin."""
    from pyspark.sql.functions import pandas_udf

    rows = sorted(cent.collect(), key=lambda r: r["cid"])
    if not rows:
        raise ValueError(
            "no centroids — empty embeddings input to the vectorized "
            "assignment path"
        )
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    C = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    cn = (C * C).sum(axis=1)
    bc = vecs.sparkSession.sparkContext.broadcast((cids, C, cn))

    @pandas_udf("struct<cluster: long, dist: double>")
    def best_udf(emb: pd.Series) -> pd.DataFrame:
        cids_, C_, cn_ = bc.value
        V = np.stack([np.asarray(x, dtype=np.float64) for x in emb])
        D = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C_.T) + cn_[None, :]
        # HALF_UP like Spark's F.round / the oracle's round(), NOT
        # np.round's half-to-even: distances are >= 0 after the clamp,
        # so floor(x*1e6 + 0.5) is HALF_UP exactly (tie divergence vs
        # BigDecimal confined to values whose float64*1e6 scaling is
        # itself inexact at the boundary — same class as the summation
        # association the docstring already scopes)
        D = np.floor(np.maximum(D, 0.0) * 1e6 + 0.5) / 1e6
        j = np.argmin(D, axis=1)
        return pd.DataFrame(
            {"cluster": cids_[j], "dist": D[np.arange(len(j)), j]}
        )

    return vecs.select(
        "vec_id", "v", best_udf("v").alias("b")
    ).select("vec_id", "v", F.col("b.cluster").alias("cluster"), F.col("b.dist").alias("dist"))


# above this k, the vectorized assignment wins (and the k-row collect
# stays trivially bounded); below it, the fold path's zero-collect
# purity costs nothing
_VEC_ASSIGN_MIN_K = 16


def auto_kmeans_k(n_rows: int, target_cluster_size: int = 64) -> int:
    """k ≈ N / target_cluster_size — the SemDeDup-scale sizing. The
    intra-cluster pair cost is Σ|c|² ≈ N·E[|c|]; pinning k makes |c|
    grow with N and the pair stage quadratic (measured 10.4× at 10×
    rows for k=8), while k ∝ N holds expected cluster size — and the
    pair cost per row — constant. Assignment cost grows as N·k dots,
    so for very large N compose with an IVF-style coarse quantizer;
    at the corpus sizes this repo probes, N·k stays cheap."""
    import math

    return max(1, math.ceil(n_rows / target_cluster_size))


def kmeans_assign(
    embeddings: DataFrame,
    k: int | None = 8,
    iters: int = 2,
    keep_vector: bool = False,
) -> DataFrame:
    """Deterministic Lloyd k-means over `embeddings(vec_id, embedding)`:
    init = the k smallest vec_ids (an ordered LIMIT k, correct for ANY
    id space — `vec_id < k` would silently yield fewer or zero
    centroids on ids that are hashes, offsets, or 1-based), `iters`
    assign/update rounds, then a final assignment. Returns
    (vec_id, cluster, dist); keep_vector=True appends the double-cast
    vector column `v` so callers like semdedup_pairs avoid re-joining
    the full corpus just to recover it.

    Scale: per iteration one broadcast join (k rows) + one
    groupBy(vec_id) + one posexplode→groupBy(cluster, dim) avg over
    N·dim rows — all algebraic aggregates, no collects, no windows.
    k-row centroid frames are localCheckpointed so the loop's lineage
    stays O(1) instead of O(iters)."""
    vecs = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    if k is None:
        k = auto_kmeans_k(embeddings.count())
    assign = _assign if k <= _VEC_ASSIGN_MIN_K else _assign_vec
    cent = (
        vecs.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    for _ in range(iters):
        assigned = assign(vecs, cent)
        dims = assigned.select(
            "cluster", F.posexplode("v").alias("dim", "x")
        )
        cent = (
            dims.groupBy("cluster", "dim")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
            .select(F.col("cluster").alias("cid"), "cv")
            .localCheckpoint(eager=False)
        )
    out_cols = ["vec_id", "cluster", "dist"] + (["v"] if keep_vector else [])
    return assign(vecs, cent).select(*out_cols)


def semdedup_pairs(
    embeddings: DataFrame,
    k: int | None = 8,
    iters: int = 2,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup: k-means partition, then exact cosine pairs ONLY within
    each cluster (vec_a < vec_b, cos >= threshold). Returns
    (cluster, vec_a, vec_b, cos_sim).

    The self-join is keyed by cluster, so its cost is
    sum(|cluster|²) ≈ N²/k — choose k ≈ N/target_cluster_size to bound
    it (auto-sizing like auto_ivf_params applies). A pathological hot
    cluster is visible in the cluster-size histogram before paying the
    join. Only the similarity universe is clustered (dedup._scorable):
    a NULL or zero-norm vector has no cosine, so it is in no pair."""
    # keep_vector avoids a full-corpus re-join on vec_id solely to
    # recover the vector column the final assignment already carried.
    # localCheckpoint (r14): both sides of the cluster self-join read
    # `assigned` — without the pin the whole kmeans assignment pipeline
    # (scan + broadcast-centroid join + distance eval) executes twice,
    # as two mirrored subtrees in the plan. Lazy: materializes on first
    # use, computed once, lineage cut; values are deterministic so the
    # pin moves cost, never results.
    assigned = kmeans_assign(
        _scorable(embeddings), k=k, iters=iters, keep_vector=True
    ).localCheckpoint(eager=False)
    a = assigned.select(
        "cluster", F.col("vec_id").alias("vec_a"), F.col("v").alias("va")
    )
    b = assigned.select(
        "cluster", F.col("vec_id").alias("vec_b"), F.col("v").alias("vb")
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "cluster",
            "vec_a",
            "vec_b",
            _cos6(F.col("va"), F.col("vb")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def prototypes_prune(
    embeddings: DataFrame,
    keep_micro: int = 500_000,
    keep: str = "hard",
    k: int | None = 8,
    iters: int = 2,
) -> DataFrame:
    """SSL-prototype data pruning (Sorscher et al., NeurIPS 2022 —
    "Beyond neural scaling laws"): score each example by its distance
    to the nearest k-means centroid in embedding space (the
    "prototype"), then keep a fixed fraction per cluster —
    `keep='hard'` retains the FARTHEST examples (the abundant-data
    regime, where easy prototypical points are redundant),
    `keep='easy'` the nearest (the scarce-data regime). Completes the
    cluster-curation triad with semdedup_pairs (near-dup removal
    inside clusters) and curate's keep_best (quality election).

    The quota is cluster-balanced — n_keep(c) = ceil(|c| ·
    keep_micro / 1e6), exact integer arithmetic (`div`, the
    micro-fraction house rule) so any engine replays the boundary
    bit-for-bit — which prevents the global-threshold failure mode of
    wiping out small clusters entirely (class-balanced pruning per the
    paper's ImageNet protocol). Ties on the 6 dp distance break on
    vec_id so the kept set is engine-independent.

    Scale: kmeans_assign is linear (broadcast centroids, no windows);
    the pruning itself is ONE shuffle keyed by cluster feeding both
    window functions (row_number + count share the partition key), and
    clusters are bounded ≈ target_cluster_size by auto-k, so no
    partition outgrows an executor at any corpus size. Returns
    (vec_id, cluster, dist, rank) for the kept rows; rank is the
    1-based position in the keep order within the cluster."""
    if keep not in ("hard", "easy"):
        raise ValueError(f"keep must be 'hard' or 'easy', got {keep!r}")
    if not 0 <= keep_micro <= 1_000_000:
        raise ValueError(f"keep_micro out of [0, 1e6]: {keep_micro}")
    from pyspark.sql import Window

    assigned = kmeans_assign(embeddings, k=k, iters=iters)
    order = (
        F.col("dist").desc() if keep == "hard" else F.col("dist").asc()
    )
    w = Window.partitionBy("cluster").orderBy(order, F.col("vec_id").asc())
    wc = Window.partitionBy("cluster")
    return (
        assigned.select(
            "vec_id",
            "cluster",
            "dist",
            F.row_number().over(w).cast("long").alias("rank"),
            F.count(F.lit(1)).over(wc).alias("n_c"),
        )
        .filter(
            F.col("rank")
            <= F.expr(f"(n_c * {keep_micro} + 999999) div 1000000")
        )
        .select("vec_id", "cluster", "dist", "rank")
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    round_dp: int = 8,
) -> DataFrame:
    """Weighted PageRank over `edges(src, dst, weight)` with uniform
    dangling-mass redistribution. Returns (node, pr).

    pr_{t+1}(v) = (1-d)/n + d * (Σ_{u→v} pr_t(u)·w(u,v)/out(u)
                                 + dangling_mass_t / n)

    The loop is the standard join-agg shape that scales to web graphs:
    per iteration one join of the rank vector with the edge list keyed
    by src, one groupBy(dst) sum, and a one-row dangling aggregate
    broadcast back. Rank frames are localCheckpointed every iteration
    to cut lineage. Ranks round to `round_dp` each iteration so a
    DuckDB oracle replays bit-for-bit (sum-order noise can't
    compound)."""
    # pin the edge list FIRST (r15): `edges` is typically the output of
    # a mining pipeline (the event graph: a full user-keyed lag window
    # over the log) and is consumed by nodes (twice, via the union),
    # out_w, trans and dangling — which materialize in SEPARATE
    # checkpoint jobs, across which ReuseExchange shares nothing, so
    # the mining re-executed per consumer. One eager checkpoint = one
    # mining pass; every consumer below re-scans an edge-sized leaf.
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        # empty graph: no nodes to rank (avoids the 1/n teleport term)
        return nodes.select("node", F.lit(0.0).alias("pr"))
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    # edge transition probability, fixed across iterations
    trans = edges.join(out_w, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("p")
    ).localCheckpoint(eager=False)
    # DANGLING NODE SET, computed once (r14): the previous shape
    # rebuilt has_out from `edges` INSIDE every iteration's dangling
    # aggregate — under AQE each exchange of that re-mined subtree runs
    # as its own query-stage job, and the edge-mining pipeline (for the
    # event graph: a full user-keyed window over the log) re-executed
    # per iteration. The set is iteration-invariant; pin it.
    dangling = nodes.join(
        out_w.select(F.col("src").alias("node")), "node", "left_anti"
    ).localCheckpoint(eager=False)
    pr = nodes.select("node", F.lit(round(1.0 / n, round_dp)).alias("pr"))
    for _ in range(iters):
        # dangling mass as a DRIVER SCALAR (one double per iteration):
        # the broadcast-join form paid a broadcast-exchange job per
        # iteration to ship the same single number. first()[0] yields
        # the exact double Spark computed, and lit(dm) / n replays the
        # identical float division the broadcast column fed — verified
        # bit-identical end to end. The eager evaluation this forces
        # per iteration was already forced by the broadcast build.
        dm = (
            pr.join(F.broadcast(dangling), "node", "left_semi")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dmass"))
            .first()[0]
        )
        contrib = (
            pr.join(trans, pr["node"] == trans["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("p")).alias("c"))
        )
        pr = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                F.round(
                    F.lit((1.0 - damping) / n)
                    + damping
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.lit(dm) / n
                    ),
                    round_dp,
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return pr
