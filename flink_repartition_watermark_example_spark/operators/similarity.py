"""Similarity search over the ``embeddings`` table (north-star
surface): brute-force cosine top-k as the correctness baseline, and a
random-hyperplane LSH-bucketed path as the scale variant.

Scale shapes:
- Brute force is O(|Q|·|N|) but |Q| (the query set) is broadcast, so
  the big side never shuffles — per-executor it's a tight
  codegen'd loop over zip_with/aggregate.  Right answer for small
  query sets; at 100 TB of corpus it's one full scan per batch of
  queries.
- The LSH path buckets both sides by hyperplane sign-bits first, so
  candidate generation is an equi-join on bucket id — sublinear
  per-query work at the cost of recall.  The hyperplanes are
  *compile-time constants* (seeded md5 → ±1 components) so the same
  plan is reproducible everywhere, including in the DuckDB oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_repartition_watermark_example_spark.functions.vectors import as_double, cosine, dot, norm
from flink_repartition_watermark_example_spark.scale import fan_out

EMBED_DIM = 64
NUM_PLANES = 4  # 16 LSH buckets


def _plane_component(p: int, i: int) -> float:
    """Deterministic ±1.0 hyperplane component — md5-seeded so every
    engine (and every build) derives the identical planes."""
    h = hashlib.md5(f"hp{p}d{i}".encode()).hexdigest()
    return 1.0 if int(h[:15], 16) % 2 == 1 else -1.0


def hyperplanes(num_planes: int = NUM_PLANES, dim: int = EMBED_DIM) -> list[list[float]]:
    return [[_plane_component(p, i) for i in range(dim)] for p in range(num_planes)]


def bucket_col(vec, planes: list[list[float]]):
    """LSH bucket id: bit p = sign of <vec, plane_p>."""
    b = F.lit(0)
    for p, plane in enumerate(planes):
        proj = dot(vec, F.array(*[F.lit(c) for c in plane]))
        b = b + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return b


def cosine_topk(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """Brute-force exact top-k: for each query vector (vec_id <
    num_queries), the k nearest corpus vectors (vec_id >= num_queries)
    by cosine, vec_id as the deterministic tiebreak.

    The query side is broadcast — the corpus scan never shuffles; the
    only wide operation is the per-query top-k (TakeOrdered per
    window partition over k·|Q| rows).

    Parity-preserving perf: both sides carry their norm as a column
    computed once (identical fold ⇒ identical double), and each
    scored pair runs through the shared fold-exact numpy kernel stage
    (`_score_pairs`) — bit-identical doubles to the interpreted
    expression folds at Arrow-batch throughput."""
    q = emb.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qv")
    ).withColumn("nqv", norm(F.col("qv")))
    c = fan_out(emb.where(F.col("vec_id") >= num_queries), "vec_id").select(
        "vec_id", as_double("embedding").alias("v")
    ).withColumn("nv", norm(F.col("v")))
    scored = _score_pairs(c.crossJoin(F.broadcast(q)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def lsh_ann_topk(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via the LSH coarse index — the scale path for
    `cosine_topk`.  Corpus vectors are bucketed once by hyperplane
    sign-bits; each query multi-probes its own bucket plus all
    Hamming-distance-1 buckets (flip one of NUM_PLANES bits), so only
    ~(1+NUM_PLANES)/2^NUM_PLANES of the corpus is scored per query
    instead of all of it.

    Scale shape: the probe list (|Q|·(1+NUM_PLANES) rows) is broadcast;
    candidate generation is a broadcast hash join on bucket id — the
    corpus is scanned once, never shuffled, and per-query work is
    sublinear in corpus size.  Recall < 1 by construction; the exact
    `cosine_topk` is the correctness baseline.

    Bucketing and scoring run through the fold-exact numpy kernels
    (see the kernel section below): bit-identical doubles to the
    interpreted bucket_col/cosine folds and the DuckDB oracle, at
    Arrow-batch throughput."""
    planes = planes or hyperplanes()
    raw = emb.select("vec_id", as_double("embedding").alias("v"))
    q = _bucketize_fold(raw.where(F.col("vec_id") < num_queries), planes).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nqv"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(len(planes))
                ],
            )
        ).alias("probe"),
    )
    c = _bucketize_fold(
        fan_out(raw.where(F.col("vec_id") >= num_queries), "vec_id"), planes
    )
    scored = _score_pairs(
        c.join(F.broadcast(q), F.col("probe") == F.col("bucket"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def neardup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.25,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: same LSH bucket AND cosine ≥
    threshold.  Candidate generation is an equi-join on bucket id —
    never an all-pairs cross product.  Bucketing and pair scoring run
    through the fold-exact numpy kernels: the hoisted per-side norms
    produce the same doubles as cosine()'s inline norms (identical
    fold sequence), so the oracle hash is unchanged."""
    planes = planes or hyperplanes()
    v = _bucketize_fold(
        fan_out(emb, "vec_id").select("vec_id", as_double("embedding").alias("v")),
        planes,
    ).localCheckpoint(eager=True)
    a, b = v.alias("a"), v.alias("b")
    joined = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("a.v").alias("qv"),
        F.col("a.nv").alias("nqv"),
        F.col("b.vec_id").alias("vec_id"),
        F.col("b.v").alias("v"),
        F.col("b.nv").alias("nv"),
    )
    return (
        _score_pairs(joined)
        .select(
            F.col("query_id").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
            "cos_sim",
        )
        .where(F.col("cos_sim") >= threshold)
    )


# IVF coarse index: deterministic "sampled" centroids (corpus rows at
# fixed vec_ids — no Lloyd iterations, so every engine and the SQL
# oracle derive the identical index) and a 2-list probe.
CENTROID_IDS = [10 + 13 * j for j in range(16)]
NPROBE = 2
# The PRODUCTION probe width (VERDICT r10 #5): NPROBE=2 is the cheap
# gate/bench configuration (its absolute recall@5 vs exact cosine is
# ~0.2-0.3 — fine for a hash-checked plan, wrong for a user sizing an
# index); the recall-vs-nprobe curve recorded by
# scripts/record_nprobe_recall.py (BENCH_local.json "nprobe_recall")
# shows where mean recall@5 crosses 0.9, and this constant is that
# measured crossing: 15/16 at sf0.01 (0.92), 12/16 at sf0.1 (0.94) —
# near-exhaustive because the synthetic embeddings are ISOTROPIC, so
# recall grows ~linearly with the probed fraction (the textbook IVF
# floor when the coarse quantizer finds no cluster structure).  On
# real clustered embeddings the crossing sits far lower; the curve
# artifact, not this constant, is what a user sizing an index reads.
# ann_recall_ivf_production + tests/test_similarity_ann.py pin >= 0.9
# at this width.
IVF_PRODUCTION_NPROBE = 15

# SemDeDup's corpus-size lever (Abbas et al. 2023, §SemDeDup): cluster
# count grows with the corpus so the quadratic-within-cluster pairing
# stays ~per_cluster comparisons per vector.  k = max(16, n // 500)
# keeps the gate-scale configs at the fixed-16 floor (identical to the
# historical sweep rows) while sf1+ scales k linearly — measured in
# BENCH_sf100.json semdedup_scaled_k: 2M vectors at k=4000 in 1188 s
# vs ~25 h extrapolated at k=16.
SEMDEDUP_PER_CLUSTER = 500

# Assignment-path threshold: with k centroids of EMBED_DIM doubles the
# task closure carries k*64*8 bytes; 4096 keeps that under ~2 MB (fine
# to serialize per task batch).  Above it, semantic_dedup_joined ships
# the centroids as a broadcast RELATION instead — one torrent transfer
# per executor, no per-task closure cost, no O(k) driver collect.
SEMDEDUP_CLOSURE_K_MAX = 4096

# Broadcast ceiling for the JOINED flat-assignment path: past ~256 MB
# of centroid vectors (k ~ 500k at dim 64) even a broadcast relation
# is the wrong plan — flat assignment is O(n*k) pair rows by then, and
# the two-level router (O(n*sqrt(k)) equi-joins, shuffled fine) is the
# documented next tier.
SEMDEDUP_BROADCAST_BYTES = 256 * 1024 * 1024

# Pair-row budget for FLAT assignment.  Flat assignment materializes
# one candidate row per (vector, centroid) — n*k rows, each carrying
# two EMBED_DIM-double arrays on the joined path — so its regime ends
# long before the broadcast ceiling trips: at sf100 the centroid set
# is a harmless 2 MB (k=4000), but 2M vectors x 4000 = 8e9 pair rows
# is TBs of transient Arrow transfer, and the round-11 sweep leg was
# killed after 40 min (BENCH_sf100.json.fenced_out post-mortem).
# Measured brackets at dim 64: 8e7 pair rows (sf10) ran the joined
# tier in 87 s; the two-level router ran the 8e9-pair corpus in
# ~480 s.  5e8 places the switch at the measured regime boundary
# (~500 s of flat work extrapolating linearly — right where
# O(n*sqrt(k)) routing takes over).  Above the budget
# :func:`semantic_dedup_dispatch` routes assignment through the
# two-level router automatically (VERDICT r11 #1); results then
# follow the router's documented IVF boundary trade (purge recall
# 0.991 at sf1, 0.999 at sf10 vs flat) instead of requiring the user
# to know the regime map.
SEMDEDUP_PAIRROW_BUDGET = 500_000_000


def scaled_centroid_ids(emb: DataFrame, per_cluster: int = SEMDEDUP_PER_CLUSTER) -> list[int]:
    """Corpus-scaled SemDeDup centroid set: the first max(16, n //
    per_cluster) eligible vec_ids, ascending (eligible = vec_id >= 10,
    the query-row convention).  Deterministic, guaranteed present in
    the corpus as :func:`semantic_dedup` requires, and expressible as
    a fixed SQL string (row_number over vec_id <= GREATEST(16,
    count(*) // per_cluster)) so the DuckDB oracle computes the same
    set without parameter plumbing.  Driver cost: one count() plus an
    O(k) collect — fine at the k<=SEMDEDUP_CLOSURE_K_MAX tier this
    path serves; above it, :func:`scaled_centroids_df` derives the
    SAME set as a DataFrame with no O(k) driver traffic."""
    n = emb.count()
    k = max(16, n // per_cluster)
    return [
        r["vec_id"]
        for r in emb.where(F.col("vec_id") >= 10)
        .select("vec_id")
        .orderBy("vec_id")
        .limit(k)
        .collect()
    ]


def exact_kth_smallest(df: DataFrame, col: str, k: int, buckets: int = 128,
                       direct_limit: int = 100_000):
    """Exact k-th smallest value of a (distinct-valued) column with
    O(buckets) driver traffic per level — the distributed rank cut
    that replaces driver-side collects for 'first k by key' sets over
    SPARSE ids (id arithmetic is banned here: scaled dirs stride ids).

    Each level: approxQuantile proposes bucket bounds (approximate is
    fine — only used to NARROW), one aggregate counts rows <= each
    bound EXACTLY, the bucket containing rank k is isolated, and the
    search recurses into it with the residual rank.  Once the slice is
    under ``direct_limit`` rows a bounded TakeOrdered finishes.  Ties:
    callers pass unique-valued columns (vec_id); with duplicates the
    result is still AN exact k-th order statistic, but the <= cutoff
    filter may admit extra equal rows."""
    total = df.count()
    if not 1 <= k <= total:
        raise ValueError(f"rank {k} out of range for {total} rows")
    while total > direct_limit:
        bounds = df.stat.approxQuantile(col, [i / buckets for i in range(1, buckets)], 0.001)
        bounds = sorted(set(bounds))
        counts = df.agg(
            *[
                F.sum((F.col(col) <= F.lit(b)).cast("long")).alias(f"c{i}")
                for i, b in enumerate(bounds)
            ]
        ).collect()[0]
        lo, base = None, 0
        hi = None
        for i, b in enumerate(bounds):
            if counts[f"c{i}"] >= k:
                hi = b
                lo = bounds[i - 1] if i else None
                base = counts[f"c{i-1}"] if i else 0
                break
        if hi is None:  # rank k lies above the last proposed bound
            lo, base = bounds[-1], counts[f"c{len(bounds)-1}"]
        sliced = df.where(F.col(col) > F.lit(lo)) if lo is not None else df
        if hi is not None:
            sliced = sliced.where(F.col(col) <= F.lit(hi))
        new_total = (counts[f"c{bounds.index(hi)}"] - base) if hi is not None else total - base
        if new_total >= total:  # degenerate bounds (all-equal slice): stop narrowing
            break
        df, k, total = sliced, k - base, new_total
    row = df.orderBy(col).limit(k).agg(F.max(col).alias("m")).collect()[0]
    return row["m"]


def scaled_centroid_plan(
    emb: DataFrame, per_cluster: int = SEMDEDUP_PER_CLUSTER
) -> tuple[DataFrame, int, int]:
    """(cent_df, k, n): :func:`scaled_centroids_df` plus the CLAMPED
    k and the corpus count that sized it.  Callers doing guard math —
    the broadcast-bytes ceiling, the pair-row budget — reuse these
    instead of re-counting, so the guards always agree with the
    actual centroid set (ADVICE r11: an unclamped expected_k computed
    from a third count() could exceed the clamped set on degenerate
    inputs)."""
    # one job for both counts (r12): corpus size and eligible size are
    # a single aggregate over one scan, not two count() jobs.
    row = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("vec_id") >= 10, 1)).alias("ecount"),
    ).collect()[0]
    n, ecount = int(row["n"]), int(row["ecount"])
    k = max(16, n // per_cluster)
    elig = emb.where(F.col("vec_id") >= 10)
    # Clamp k to the eligible row count (ADVICE r10): the id-list twin
    # silently truncates via limit(k), so on degenerate inputs (tiny
    # corpora, per_cluster=1) an unclamped rank cut would raise where
    # the twin runs with fewer centroids — both tiers must derive the
    # IDENTICAL set on all inputs.  Sparse ids mean n-10 is not the
    # eligible count; count it (in the same aggregate).
    k = min(k, ecount)
    if k < 1:
        cent = elig.select(
            F.col("vec_id").alias("centroid_id"),
            as_double("embedding").alias("cv"),
        )
        return cent, 0, n
    cutoff = exact_kth_smallest(elig.select("vec_id"), "vec_id", k)
    cent = elig.where(F.col("vec_id") <= F.lit(cutoff)).select(
        F.col("vec_id").alias("centroid_id"),
        as_double("embedding").alias("cv"),
    )
    return cent, k, n


def scaled_centroids_df(emb: DataFrame, per_cluster: int = SEMDEDUP_PER_CLUSTER) -> DataFrame:
    """DataFrame twin of :func:`scaled_centroid_ids` — the SAME
    centroid set (first max(16, n // per_cluster) eligible vec_ids
    ascending) as a (centroid_id, cv) RELATION, derived with no O(k)
    driver collect: one count(), one exact distributed rank cut
    (O(buckets) driver traffic), one filter.  This is the 4th-decade
    form — at n = 1e9 vectors k is ~2M and the id list alone would be
    16 MB of driver traffic plus GBs of task-closure centroid matrix;
    here the centroids stay a relation the engine broadcasts or
    shuffles (VERDICT r9 #2 / the reference's S14 discipline:
    README.md:28-45 — state ships via the engine, not the driver)."""
    return scaled_centroid_plan(emb, per_cluster)[0]


# --- fold-exact numpy kernels ---------------------------------------------
# IEEE 754 double ops are deterministic: the SEQUENCE of operations
# fixes the bit pattern, not the engine.  functions.vectors.dot is the
# left fold acc ← acc + (x_j · y_j) (and DuckDB's list_reduce seeds
# with the first element, equal because 0.0 + x == x exactly).  These
# kernels run the IDENTICAL per-row operation sequence — one multiply,
# one add per dimension, in dimension order — but vectorized ACROSS
# rows with numpy, so they are bit-identical to the interpreted
# expression folds (asserted in tests/test_similarity_ann.py) at
# ~50× the throughput.  np.matmul/BLAS would reorder the additions
# (pairwise/SIMD summation) and break value-hash parity — that's the
# `*_fast` twins' territory.


def _fold_dot_matrix(V, C):
    """(n,d) × (m,d) → (n,m) dots, left-fold order per (row, centroid)."""
    import numpy as np

    acc = np.zeros((V.shape[0], C.shape[0]))
    for j in range(V.shape[1]):
        acc = acc + V[:, j : j + 1] * C[None, :, j]
    return acc


def _fold_dot_rows(A, B):
    """Row-wise dots of two (n,d) matrices, left-fold order per row."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        acc = acc + A[:, j] * B[:, j]
    return acc


def _fold_norm(V):
    """Row norms sqrt(Σx²) in left-fold order (sqrt is correctly
    rounded under IEEE 754, so it too is engine-independent)."""
    import numpy as np

    acc = np.zeros(V.shape[0])
    for j in range(V.shape[1]):
        acc = acc + V[:, j] * V[:, j]
    return np.sqrt(acc)


def _score_pairs(joined: DataFrame) -> DataFrame:
    """Shared fold-exact scoring stage: a joined candidate relation
    with (query_id, qv, nqv, vec_id, v, nv) → (query_id, vec_id,
    cos_sim), cos = dot/(nqv·nv) in the expression fold's exact
    operation order, one Arrow pass, no shuffle."""
    import numpy as np
    import pandas as pd

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            Q = np.stack(pdf["qv"].to_numpy()).astype(np.float64)
            cos = _fold_dot_rows(Q, V) / (
                pdf["nqv"].to_numpy() * pdf["nv"].to_numpy()
            )
            yield pd.DataFrame(
                {"query_id": pdf["query_id"], "vec_id": pdf["vec_id"], "cos_sim": cos}
            )

    return joined.mapInPandas(
        batches, schema="query_id long, vec_id long, cos_sim double"
    )


def _bucketize_fold(vdf: DataFrame, planes: list[list[float]]) -> DataFrame:
    """Fold-exact LSH bucketing stage: (vec_id, v) → (vec_id, v, nv,
    bucket) where bit p of bucket is sign(<v, plane_p>) with the
    projection computed in the expression fold's exact operation
    order — bit-identical to bucket_col's interpreted dots."""
    import numpy as np
    import pandas as pd

    P = np.array(planes, dtype=np.float64)

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            proj = _fold_dot_matrix(V, P)
            bucket = ((proj > 0).astype(np.int64) << np.arange(P.shape[0])).sum(
                axis=1
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "nv": _fold_norm(V),
                    "bucket": bucket,
                }
            )

    return vdf.mapInPandas(
        batches, schema="vec_id long, v array<double>, nv double, bucket long"
    )


def _centroids(emb: DataFrame, centroid_ids: list[int] | None = None):
    cents = (
        emb.where(F.col("vec_id").isin(centroid_ids or CENTROID_IDS))
        .select("vec_id", as_double("embedding").alias("v"))
        .collect()
    )
    return sorted((r["vec_id"], list(r["v"])) for r in cents)


def _assign_lists(V, C, cnorms):
    """(row norms, index of each row's list) for a corpus batch:
    argmax first-win over the ascending-cid centroid columns, so an
    exact tie goes to the smaller centroid id (cos desc, cid asc)."""
    import numpy as np

    nv = _fold_norm(V)
    cos = _fold_dot_matrix(V, C) / (nv[:, None] * cnorms[None, :])
    return nv, np.argmax(cos, axis=1)


def _probe_table(emb: DataFrame, num_queries: int):
    """Driver-side routing of the query batch for the exact IVF paths.
    ONE collect fetches the CENTROID_IDS rows and the |Q| query rows
    (vec_id < num_queries, a small batch by contract — see
    `_collect_queries`); numpy then computes the centroid and query
    norms and each query's probe rank (1..#lists) of every list in
    (cos desc, centroid_id asc) order, every double in the expression
    fold's exact operation order.

    Returns (cids, C, cnorms, qids, Q, nq, ranks): ascending centroid
    ids with their vectors and norms, ascending query ids with theirs,
    and the (|Q|, #lists) rank matrix."""
    import numpy as np

    rows = {
        int(r["vec_id"]): list(r["v"])
        for r in emb.where(
            F.col("vec_id").isin(CENTROID_IDS) | (F.col("vec_id") < num_queries)
        )
        .select("vec_id", as_double("embedding").alias("v"))
        .collect()
    }
    cids = np.array(sorted(rows.keys() & set(CENTROID_IDS)), dtype=np.int64)
    qids = np.array(sorted(i for i in rows if i < num_queries), dtype=np.int64)
    C = np.array([rows[i] for i in cids], dtype=np.float64)
    Q = np.array([rows[i] for i in qids], dtype=np.float64)
    cnorms, nq = _fold_norm(C), _fold_norm(Q)
    qcos = _fold_dot_matrix(Q, C) / (nq[:, None] * cnorms[None, :])
    ranks = np.empty(qcos.shape, dtype=np.int64)
    for i in range(len(qids)):
        ranks[i, np.lexsort((cids, -qcos[i]))] = np.arange(1, len(cids) + 1)
    return cids, C, cnorms, qids, Q, nq, ranks


def _adaptive_nprobe(
    emb: DataFrame, corpus_src: DataFrame, num_queries: int, nprobe: int, n_lists: int
) -> int:
    """Probe width for a filtered search.  A selective predicate thins
    every list by ~the selectivity s, so a fixed nprobe sees ~s of its
    usual candidates (VERDICT r9 #5: 0.8/5 mean hits at s~0.5).  Widen
    by the inverse selectivity, integer-ceil so both engines compute
    the identical width: min(#lists, ceil(nprobe * total / kept)).
    Two scalar counts — the same pushed-filter scan the index pays
    anyway; the scan stays a pre-filter."""
    total = emb.where(F.col("vec_id") >= num_queries).count()
    kept = corpus_src.where(F.col("vec_id") >= num_queries).count()
    if kept == 0:
        raise ValueError("corpus_pred filters out every corpus vector")
    return min(n_lists, (nprobe * total + kept - 1) // kept)


def ivf_topk(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    nprobe: int = NPROBE,
    corpus_pred=None,
    per_list_top1: bool = False,
) -> DataFrame:
    """Approximate top-k via an IVF-flat coarse index — the k-means-
    family counterpart of `lsh_ann_topk`.  Each query probes its
    `nprobe` nearest lists, so only ~nprobe/16 of the corpus is scored
    per query.

    Shape: the query batch is routed on the driver — one collect of
    the 16 centroid rows and the |Q| query rows, then `_probe_table`'s
    (cos desc, centroid_id asc) probe ranks.  The corpus is scanned
    ONCE in one Arrow pass (one mapInPandas, no join, no broadcast
    relation): per batch the kernel assigns each row its list (argmax
    first-win over ascending-cid centroids) and scores only the
    (query, row) pairs whose list that query probes.  The routing
    tables travel in the task closure (|Q| + 16 vectors).  At 100 TB
    the index build samples/trains centroids once and ships them the
    same way; the corpus is never shuffled beyond `fan_out`.  Recall
    < 1 by construction; `cosine_topk` is the exact baseline.

    Parity: every cosine runs through the fold-exact numpy kernels
    above, bit-identical to the interpreted expression folds
    (`ivf_topk_hof`, the retained cross-check) and the DuckDB
    oracle's list_reduce, while scoring whole row batches per
    dimension step."""
    import numpy as np
    import pandas as pd

    cids, C, cnorms, qids, Q, nq, ranks = _probe_table(emb, num_queries)
    # Filtered search: `corpus_pred` restricts the INDEXED side only —
    # queries and centroids always come from the full table, so the
    # index geometry is stable and the predicate lands in the parquet
    # scan under the kernel (pre-filter, not post-filter: non-matching
    # rows are never decoded, assigned, or scored).
    corpus_src = emb.where(corpus_pred) if corpus_pred is not None else emb
    if corpus_pred is not None:
        nprobe = _adaptive_nprobe(emb, corpus_src, num_queries, nprobe, len(cids))
    probes = ranks <= nprobe  # (|Q|, #lists): query i probes list j

    def score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            nv, a = _assign_lists(V, C, cnorms)
            qi, ri = np.nonzero(probes[:, a])
            out = {
                "query_id": qids[qi],
                "vec_id": pdf["vec_id"].to_numpy()[ri],
                "cos_sim": _fold_dot_rows(Q[qi], V[ri]) / (nq[qi] * nv[ri]),
            }
            if per_list_top1:
                out["list_id"] = cids[a[ri]]
            yield pd.DataFrame(out)

    cv = corpus_src.select("vec_id", as_double("embedding").alias("v"))
    scored = fan_out(cv.where(F.col("vec_id") >= num_queries), "vec_id").mapInPandas(
        score,
        schema="query_id long, vec_id long, cos_sim double"
        + (", list_id long" if per_list_top1 else ""),
    )
    if per_list_top1:
        # Diversified retrieval: keep only the best hit per probed
        # list before the global ranking, so the final top-k spans k
        # DISTINCT coarse cells (the cheap, fully-distributed stand-in
        # for MMR-style diversification — cells are the diversity
        # buckets the index already maintains).  The per-(query, list)
        # argmax is a partitioned window over the probe-bounded
        # candidate set; nothing here adds driver work or a new
        # shuffle shape.
        wl = Window.partitionBy("query_id", "list_id").orderBy(
            F.col("cos_sim").desc(), F.col("vec_id").asc()
        )
        scored = (
            scored.withColumn("list_rn", F.row_number().over(wl))
            .where(F.col("list_rn") == 1)
            .drop("list_rn")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
    cols = ["query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank")]
    if per_list_top1:
        cols.insert(2, F.col("list_id").cast("long").alias("list_id"))
    return ranked.select(*cols)


def _topk_cos(scored: DataFrame, k: int) -> DataFrame:
    """(cos desc, vec_id asc) top-k of a (query_id, vec_id, cos_sim)
    relation — the shared ranking of cosine_topk / ivf_topk."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ivf_scored_pair(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    nprobe_approx: int = IVF_PRODUCTION_NPROBE,
    corpus_pred=None,
) -> tuple[DataFrame, DataFrame]:
    """(approx_topk, exact_topk) for the SAMPLED-index recall queries,
    sharing ONE corpus scan that scores every (query, corpus) pair and
    carries each pair's probe_rank — the `ivf_trained_topk_pair`
    discipline ported to the cosine family (r12).

    The exhaustive side of a recall query scores the whole corpus per
    query anyway, and at the production probe width the approx side
    re-scored ~nprobe/16 of it again (15/16 — near-total duplication).
    Here one Arrow kernel computes, per corpus row: its list
    (`_assign_lists`, as ivf_topk), each query's probe rank of that
    list (`_probe_table`, the driver-side routing ivf_topk uses), and
    each query's cosine in the expression fold's exact operation order
    (`_fold_dot_matrix` — multiplication is bitwise commutative, the
    per-dimension add order is identical to `_fold_dot_rows`).
    approx = pairs with probe_rank <= nprobe', exact = all pairs; both
    ranked by the shared (cos desc, vec_id asc) window, so each side
    is bit-identical to the independent ivf_topk/cosine_topk
    composition it replaces.  The scored relation is pinned: the
    recall join's branches would otherwise re-run the kernel per
    branch.

    ``corpus_pred`` reproduces ivf_topk's filtered search exactly,
    including the adaptive probe widening (`_adaptive_nprobe`)."""
    import numpy as np
    import pandas as pd

    cids, C, cnorms, qids, Qm, nq, ranks = _probe_table(emb, num_queries)
    corpus_src = emb.where(corpus_pred) if corpus_pred is not None else emb
    nprobe = nprobe_approx
    if corpus_pred is not None:
        nprobe = _adaptive_nprobe(emb, corpus_src, num_queries, nprobe, len(cids))

    def f(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            nv, a = _assign_lists(V, C, cnorms)
            pr = ranks[:, a]  # (n_queries, batch) probe_rank per pair
            qc = _fold_dot_matrix(V, Qm) / (nv[:, None] * nq[None, :])
            vid = pdf["vec_id"].to_numpy()
            frames = []
            for qi in range(len(qids)):
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(
                                len(vid), qids[qi], dtype=np.int64
                            ),
                            "vec_id": vid,
                            "cos_sim": qc[:, qi],
                            "probe_rank": pr[qi],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    scored = (
        fan_out(corpus_src.where(F.col("vec_id") >= num_queries), "vec_id")
        .select("vec_id", as_double("embedding").alias("v"))
        .mapInPandas(
            f,
            schema="query_id long, vec_id long, cos_sim double, probe_rank long",
        )
        .localCheckpoint(eager=True)
    )
    approx = _topk_cos(scored.where(F.col("probe_rank") <= nprobe), k)
    exact = _topk_cos(scored, k)
    return approx, exact


def ivf_topk_hof(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    nprobe: int = NPROBE,
) -> DataFrame:
    """The pure-expression form of `ivf_topk` — every cosine an
    interpreted higher-order fold (zip_with/aggregate), no Python
    anywhere.  Retained as the bit-equality cross-check for the
    fold-exact numpy kernels (tests/test_similarity_ann.py asserts
    collect()-level float equality between the two paths) and as the
    reference rendering of the left-fold parity contract.  ~5× slower
    than `ivf_topk` at sf0.1; not registered."""
    import math

    cents = _centroids(emb)

    def _py_norm(cv: list[float]) -> float:
        acc = 0.0
        for x in cv:
            acc += x * x
        return math.sqrt(acc)

    cnorms = {cid: _py_norm(cv) for cid, cv in cents}

    def ranked_lists(vec_col, norm_col):
        # array<struct<s: cosine, nc: -centroid_id>> sorted descending:
        # cosine desc, then centroid_id asc — same order as the oracle's
        # ROW_NUMBER() OVER (ORDER BY cos DESC, centroid_id ASC).
        # cos = dot / (norm_v · norm_c): same operand order as cosine().
        structs = [
            F.struct(
                (
                    dot(vec_col, F.array(*[F.lit(x) for x in cv]))
                    / (norm_col * F.lit(cnorms[cid]))
                ).alias("s"),
                F.lit(-cid).cast("long").alias("nc"),
            )
            for cid, cv in cents
        ]
        return F.sort_array(F.array(*structs), False)

    v = emb.select("vec_id", as_double("embedding").alias("v")).withColumn(
        "nv", norm(F.col("v"))
    )
    corpus = fan_out(v.where(F.col("vec_id") >= num_queries), "vec_id").select(
        "vec_id",
        "v",
        "nv",
        (
            -F.element_at(ranked_lists(F.col("v"), F.col("nv")), 1).getField("nc")
        ).alias("list_id"),
    )
    q = v.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nqv"),
        F.explode(
            F.slice(ranked_lists(F.col("v"), F.col("nv")), 1, nprobe)
        ).alias("probe"),
    ).select("query_id", "qv", "nqv", (-F.col("probe.nc")).alias("list_id"))
    scored = corpus.join(F.broadcast(q), "list_id").select(
        "query_id",
        "vec_id",
        # dot/(norm(qv)·norm(v)) with both norms reused — operand order
        # identical to cosine(qv, v)
        (dot(F.col("qv"), F.col("v")) / (F.col("nqv") * F.col("nv"))).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


# --- vectorized production twins ------------------------------------------
# The oracle-exact paths above keep float folds in interpreted
# left-fold order for bit-identical DuckDB comparison (see ivf_topk's
# perf note).  These twins are the production scorers: Arrow-batched
# mapInPandas + numpy/BLAS matmuls.  Float summation order differs, so
# they are NOT hash-comparable to the SQL oracles — their correctness
# contract is the recall/agreement tests against `cosine_topk`
# (tests/test_similarity_ann.py) and the registered integer recall
# queries (queries_similarity.py).


def _collect_queries(emb: DataFrame, num_queries: int):
    """Driver-side query matrix — |Q| is small by contract (a query
    *batch*, not the corpus); the corpus side never collects."""
    rows = (
        emb.where(F.col("vec_id") < num_queries)
        .select("vec_id", as_double("embedding").alias("v"))
        .collect()
    )
    return sorted((int(r["vec_id"]), list(r["v"])) for r in rows)


def cosine_topk_fast(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """Vectorized production twin of `cosine_topk`: the query matrix is
    shipped in the task closure; each Arrow batch of corpus vectors is
    scored as ONE numpy matmul (|batch| × dim @ dim × |Q|) and only the
    per-batch top-k survivors per query are emitted — a map-side
    combine for top-k, so the final window ranks O(k·batches·|Q|) rows
    however large the corpus is."""
    import numpy as np
    import pandas as pd

    qs = _collect_queries(emb, num_queries)
    qids = np.array([q[0] for q in qs], dtype=np.int64)
    Q = np.array([q[1] for q in qs], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            S = (M / np.linalg.norm(M, axis=1, keepdims=True)) @ Qn.T
            vec_ids = pdf["vec_id"].to_numpy()
            kk = min(k, len(pdf))
            # per-query local top-k (cos desc, vec_id asc tiebreak)
            order = np.lexsort((vec_ids[:, None].repeat(len(qids), 1), -S), axis=0)
            sel = order[:kk, :]
            out_q = np.repeat(qids[None, :], kk, axis=0).ravel()
            out_v = vec_ids[sel].ravel()
            out_s = np.take_along_axis(S, sel, axis=0).ravel()
            yield pd.DataFrame(
                {"query_id": out_q, "vec_id": out_v, "cos_sim": out_s}
            )

    corpus = fan_out(emb.where(F.col("vec_id") >= num_queries), "vec_id").select(
        "vec_id", as_double("embedding").alias("v")
    )
    cand = corpus.mapInPandas(
        score, schema="query_id long, vec_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank")
        )
    )


def ivf_topk_fast(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    nprobe: int = NPROBE,
) -> DataFrame:
    """Vectorized production twin of `ivf_topk`: identical index
    geometry (same CENTROID_IDS, same nprobe, same tiebreaks) but the
    whole probe runs as ONE mapInPandas pass — per Arrow batch, a
    single (|batch| × dim @ dim × 16) matmul assigns lists, each
    query's candidates are the rows assigned to its nprobe lists
    (mask, no join), scoring is one matmul over the masked rows, and
    only the per-batch top-k per query survives (map-side combine).
    Query routing happens on the driver (|Q| rows).  One Python
    stage, zero shuffles before the final O(k·batches·|Q|)-row
    window."""
    import numpy as np
    import pandas as pd

    cents = (
        emb.where(F.col("vec_id").isin(CENTROID_IDS))
        .select("vec_id", as_double("embedding").alias("v"))
        .collect()
    )
    cents = sorted((int(r["vec_id"]), list(r["v"])) for r in cents)
    cent_ids = np.array([c[0] for c in cents], dtype=np.int64)
    C = np.array([c[1] for c in cents], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    qs = _collect_queries(emb, num_queries)
    qids = np.array([q[0] for q in qs], dtype=np.int64)
    Q = np.array([q[1] for q in qs], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    # per-query probed list ids (cos desc, centroid_id asc — the
    # cid-ascending column order + stable sort give the tiebreak)
    probe_sets = []
    for qn in Qn:
        order = np.argsort(-(qn @ Cn.T), kind="stable")
        probe_sets.append(set(cent_ids[order[:nprobe]].tolist()))

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            # ties → smaller centroid id: argmax returns the first max
            # over cid-ascending columns
            lists = cent_ids[np.argmax(Mn @ Cn.T, axis=1)]
            vec_ids = pdf["vec_id"].to_numpy()
            out_q, out_v, out_s = [], [], []
            for qi, qn, pset in zip(qids, Qn, probe_sets):
                mask = np.isin(lists, list(pset))
                if not mask.any():
                    continue
                cos = Mn[mask] @ qn
                cand_ids = vec_ids[mask]
                kk = min(k, len(cand_ids))
                sel = np.lexsort((cand_ids, -cos))[:kk]
                out_q.extend([qi] * kk)
                out_v.extend(cand_ids[sel])
                out_s.extend(cos[sel])
            yield pd.DataFrame(
                {"query_id": out_q, "vec_id": out_v, "cos_sim": out_s}
            )

    corpus = fan_out(emb.where(F.col("vec_id") >= num_queries), "vec_id").select(
        "vec_id", as_double("embedding").alias("v")
    )
    scored = corpus.mapInPandas(
        probe, schema="query_id long, vec_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank")
        )
    )


# --- product quantization -------------------------------------------------
# PQ geometry: 64-dim vectors → 4 subspaces × 16 dims, 8 codewords per
# subspace (3 bits), codebook = fixed corpus rows (deterministic
# "sampled" training, same device as the IVF centroids) — each vector
# compresses 64 floats → 4 small ints.  At 100 TB this is the standard
# memory story for ANN: the corpus lives in RAM as codes, full vectors
# stay on disk for reranking.
PQ_SUBSPACES = 4
PQ_SUBDIM = 16  # EMBED_DIM // PQ_SUBSPACES
PQ_CODEBOOK_IDS = [20 + 7 * j for j in range(8)]


def _l2sq(a, b):
    """Left-fold squared L2 distance — same fold order as the DuckDB
    list_reduce twin, so the doubles (and hence the argmin codes) are
    bit-identical across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _fold_l2sq_matrix(V, C):
    """(n,d) × (m,d) → (n,m) squared L2 distances, fold order per
    (row, codeword) identical to `_l2sq`'s zip_with-then-fold: one
    subtract, one multiply, one add per dimension, in order."""
    import numpy as np

    acc = np.zeros((V.shape[0], C.shape[0]))
    for i in range(V.shape[1]):
        d = V[:, i : i + 1] - C[None, :, i]
        acc = acc + d * d
    return acc


def pq_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, code0..code3): per-subspace nearest-codeword ids
    (ties → smaller codeword id).  The codebook is collected once
    (8 rows) and shipped in the task closure; encoding is one
    Arrow-batched scan through the fold-exact `_fold_l2sq_matrix`
    kernel — argmin first-win over codewords scanned in ascending-id
    order == (d asc, cid asc), so the integer codes are bit-identical
    to the interpreted expression path (`pq_codes_hof`, the retained
    cross-check) and the DuckDB oracle."""
    import numpy as np
    import pandas as pd

    cb = (
        emb.where(F.col("vec_id").isin(PQ_CODEBOOK_IDS))
        .select("vec_id", as_double("embedding").alias("v"))
        .collect()
    )
    cb = sorted((r["vec_id"], list(r["v"])) for r in cb)
    cids = np.array([cid for cid, _ in cb], dtype=np.int64)
    C = np.array([cv for _, cv in cb], dtype=np.float64)

    def encode(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            out = {"vec_id": pdf["vec_id"]}
            for j in range(PQ_SUBSPACES):
                sub = slice(j * PQ_SUBDIM, (j + 1) * PQ_SUBDIM)
                d = _fold_l2sq_matrix(V[:, sub], C[:, sub])
                out[f"code{j}"] = cids[np.argmin(d, axis=1)]
            yield pd.DataFrame(out)

    v = fan_out(emb, "vec_id").select("vec_id", as_double("embedding").alias("v"))
    schema = "vec_id long, " + ", ".join(
        f"code{j} long" for j in range(PQ_SUBSPACES)
    )
    return v.mapInPandas(encode, schema=schema)


def pq_codes_hof(emb: DataFrame) -> DataFrame:
    """Pure-expression encode path (the original formulation) kept as
    the cross-check for `pq_codes`'s kernel: 32 interpreted `_l2sq`
    folds per row, exact same codes."""
    cb = (
        emb.where(F.col("vec_id").isin(PQ_CODEBOOK_IDS))
        .select("vec_id", as_double("embedding").alias("v"))
        .collect()
    )
    cb = sorted((r["vec_id"], list(r["v"])) for r in cb)

    v = fan_out(emb, "vec_id").select("vec_id", as_double("embedding").alias("v"))
    cols = ["vec_id"]
    for j in range(PQ_SUBSPACES):
        sub = F.slice(F.col("v"), j * PQ_SUBDIM + 1, PQ_SUBDIM)
        ranked = F.sort_array(
            F.array(
                *[
                    F.struct(
                        _l2sq(
                            sub,
                            F.array(
                                *[
                                    F.lit(x)
                                    for x in cv[j * PQ_SUBDIM : (j + 1) * PQ_SUBDIM]
                                ]
                            ),
                        ).alias("d"),
                        F.lit(cid).cast("long").alias("cid"),
                    )
                    for cid, cv in cb
                ]
            )
        )
        cols.append(F.element_at(ranked, 1).getField("cid").alias(f"code{j}"))
    return v.select(*cols)


def pq_adc_topk(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k over the PQ-compressed corpus: the
    query keeps its full vector, each corpus vector is its 4 codes,
    and distance ≈ Σ_j L2²(query_sub_j, codeword(code_j)).

    The classic ADC decomposition makes the per-(query, corpus) work a
    4-way integer lookup into a per-query distance table of
    |Q|·SUBSPACES·8 rows — built once, broadcast, and equi-joined
    against the exploded (vec_id, j, code) corpus codes, then summed.
    No full-vector math touches the corpus at query time; at 100 TB
    the codes table is ~60× smaller than the vectors it stands in
    for.  Approximation error vs `cosine_topk` is the PQ quantization
    error; ranking ties break by vec_id.
    """
    codes = pq_codes(emb)
    corpus_codes = codes.where(F.col("vec_id") >= num_queries).select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"code{j}") for j in range(PQ_SUBSPACES)])
        ).alias("j", "code"),
    )
    cb = (
        emb.where(F.col("vec_id").isin(PQ_CODEBOOK_IDS))
        .select("vec_id", as_double("embedding").alias("v"))
        .collect()
    )
    cb = sorted((r["vec_id"], list(r["v"])) for r in cb)

    q = emb.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qv")
    )
    # per-query distance table: (query_id, j, code, d)
    entries = []
    for j in range(PQ_SUBSPACES):
        qsub = F.slice(F.col("qv"), j * PQ_SUBDIM + 1, PQ_SUBDIM)
        for cid, cv in cb:
            entries.append(
                F.struct(
                    F.lit(j).cast("int").alias("j"),
                    F.lit(cid).cast("long").alias("code"),
                    _l2sq(
                        qsub,
                        F.array(
                            *[F.lit(x) for x in cv[j * PQ_SUBDIM : (j + 1) * PQ_SUBDIM]]
                        ),
                    ).alias("d"),
                )
            )
    dtable = q.select(
        "query_id", F.explode(F.array(*entries)).alias("e")
    ).select("query_id", "e.j", "e.code", "e.d")

    scored = (
        corpus_codes.join(F.broadcast(dtable), ["j", "code"])
        .groupBy("query_id", "vec_id")
        # quantized-integer sum: 4 doubles per key, order-independent
        .agg(
            F.sum(F.floor(F.col("d") * 1000000000.0).cast("long")).alias("dist_q")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_q").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "dist_q", F.col("rank").cast("long").alias("rank")
        )
    )


def pq_adc_topk_fast(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """Vectorized production twin of `pq_adc_topk`: identical PQ
    geometry (same codebook rows, same subspace split, same
    floor(d·1e9) integer quantization, same tiebreaks) but the whole
    encode→lookup→rank pipeline runs as ONE mapInPandas pass — per
    Arrow batch, codes are numpy argmins per subspace, ADC distances
    are 4 integer table lookups summed, and only the per-batch top-k
    per query survives (map-side combine).  No exploded codes
    relation, no broadcast join, zero shuffles before the final
    O(k·batches·|Q|)-row window.

    Distance arithmetic reproduces the interpreted path's LEFT-FOLD
    summation order (dim 0 → 15 sequentially), so the doubles — and
    hence the quantized ints, codes, and ranks — are bit-identical to
    `pq_adc_topk`, which the exact-agreement test pins.
    """
    import numpy as np
    import pandas as pd

    def _fold_l2(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
        # (n, d) × (m, d) → (n, m), accumulating dims sequentially to
        # match F.aggregate's left fold bit-for-bit.
        acc = np.zeros((A.shape[0], B.shape[0]))
        for i in range(A.shape[1]):
            d = A[:, i : i + 1] - B[None, :, i]
            acc = acc + d * d
        return acc

    cb = (
        emb.where(F.col("vec_id").isin(PQ_CODEBOOK_IDS))
        .select("vec_id", as_double("embedding").alias("v"))
        .collect()
    )
    cb = sorted((int(r["vec_id"]), list(r["v"])) for r in cb)
    cb_ids = np.array([c[0] for c in cb], dtype=np.int64)  # cid-ascending
    CB = np.array([c[1] for c in cb], dtype=np.float64)

    qs = _collect_queries(emb, num_queries)
    qids = np.array([q[0] for q in qs], dtype=np.int64)
    Q = np.array([q[1] for q in qs], dtype=np.float64)
    # per-query ADC table: DT[q, j, c] = floor(1e9 · l2sq(Q_sub, CB_sub))
    DT = np.zeros((len(qids), PQ_SUBSPACES, len(cb_ids)), dtype=np.int64)
    for j in range(PQ_SUBSPACES):
        sub = slice(j * PQ_SUBDIM, (j + 1) * PQ_SUBDIM)
        DT[:, j, :] = np.floor(_fold_l2(Q[:, sub], CB[:, sub]) * 1e9).astype(
            np.int64
        )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            vec_ids = pdf["vec_id"].to_numpy()
            # encode: per-subspace argmin (first min ⇒ smallest cid,
            # CB rows are cid-ascending)
            codes = np.empty((len(M), PQ_SUBSPACES), dtype=np.int64)
            for j in range(PQ_SUBSPACES):
                sub = slice(j * PQ_SUBDIM, (j + 1) * PQ_SUBDIM)
                codes[:, j] = np.argmin(_fold_l2(M[:, sub], CB[:, sub]), axis=1)
            # ADC: dist[q, row] = Σ_j DT[q, j, codes[row, j]]
            dist = np.zeros((len(qids), len(M)), dtype=np.int64)
            for j in range(PQ_SUBSPACES):
                dist += DT[:, j, codes[:, j]]
            kk = min(k, len(M))
            out_q, out_v, out_s = [], [], []
            for qi_idx, qi in enumerate(qids):
                sel = np.lexsort((vec_ids, dist[qi_idx]))[:kk]
                out_q.extend([qi] * kk)
                out_v.extend(vec_ids[sel])
                out_s.extend(dist[qi_idx][sel])
            yield pd.DataFrame(
                {"query_id": out_q, "vec_id": out_v, "dist_q": out_s}
            )

    corpus = fan_out(emb.where(F.col("vec_id") >= num_queries), "vec_id").select(
        "vec_id", as_double("embedding").alias("v")
    )
    cand = corpus.mapInPandas(
        score, schema="query_id long, vec_id long, dist_q long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_q").asc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "dist_q", F.col("rank").cast("long").alias("rank")
        )
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.25,
    centroid_ids: list[int] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign EVERY vector to its nearest coarse
    centroid (the IVF index doubles as the clustering), then within
    each cluster purge any vector whose cosine to a LOWER-id
    cluster-mate is >= threshold — the min-id representative of each
    epsilon-ball survives.  Returns the surviving (vec_id, list_id).

    Scale shape: assignment is a shuffle-free scan through the
    fold-exact kernel stage (centroids ship in the task closure);
    candidate pairing is an equi-join on list_id, quadratic only
    within a cluster — the centroid count is the corpus-size lever
    (grow it ~sqrt(n) so cluster sizes stay bounded; same operator,
    same oracle construction, different constant).  Never all-pairs
    across clusters.

    Parity: assignment + pair scoring run the same fold-exact kernels
    as `ivf_topk`, so doubles are bit-identical to the DuckDB
    oracle's list_reduce folds and the >= threshold cut is exact.

    Centroid rows must exist in ``emb``: missing ids raise rather
    than silently shrinking the clustering (a filtered corpus that
    lost centroid rows would otherwise cluster differently than the
    caller believes — pass the surviving ids explicitly instead)."""
    import numpy as np
    import pandas as pd

    if centroid_ids is not None and not centroid_ids:
        raise ValueError("centroid_ids must be non-empty (or None for defaults)")
    assigned = (
        closure_assignment(emb, centroid_ids)
        # persist + pin: the relation feeds both sides of the pair
        # self-join AND the final anti-join — uncached, the Arrow
        # assignment kernel would run 3x per action (the documented
        # round-5 concurrent-fan-in trap)
        .persist()
    )
    assigned.count()
    return _purge_within_lists(assigned, threshold)


def closure_assignment(
    emb: DataFrame, centroid_ids: list[int] | None = None
) -> DataFrame:
    """The nearest-centroid assignment stage of :func:`semantic_dedup`
    on its own — (vec_id, v, nv, list_id) via the closure-matrix
    fold-exact kernel (centroids collected once, shipped per task) —
    exposed for monitoring queries that need the assignment without
    the purge.  The k <= SEMDEDUP_CLOSURE_K_MAX tier; use
    :func:`assign_by_join` above it."""
    import numpy as np
    import pandas as pd

    want = sorted(centroid_ids if centroid_ids is not None else CENTROID_IDS)
    cents = _centroids(emb, want)
    if [cid for cid, _ in cents] != want:
        missing = sorted(set(want) - {cid for cid, _ in cents})
        raise ValueError(
            f"centroid vec_ids missing from the input corpus: {missing} — "
            "semantic_dedup requires every centroid row to be present; "
            "pass centroid_ids= with ids that exist in this relation"
        )
    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([cv for _, cv in cents], dtype=np.float64)
    cnorms = _fold_norm(C)

    def assign_top1(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            nv, a = _assign_lists(V, C, cnorms)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "v": pdf["v"], "nv": nv, "list_id": cids[a]}
            )

    return (
        fan_out(emb, "vec_id")
        .select("vec_id", as_double("embedding").alias("v"))
        .mapInPandas(
            assign_top1, schema="vec_id long, v array<double>, nv double, list_id long"
        )
    )


def _score_candidates(cand: DataFrame) -> DataFrame:
    """Fold-exact cosine per (vector, candidate-centroid) ROW: a
    joined relation with (vec_id, v, centroid_id, cv) → (vec_id, nv,
    centroid_id, cos) in the expression fold's exact operation order —
    bit-identical per pair to _fold_dot_matrix's (row, centroid)
    cells, so join-based assignment reproduces the closure path's
    doubles exactly.  One Arrow pass, no shuffle."""
    import numpy as np
    import pandas as pd

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            C = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            nv = _fold_norm(V)
            cos = _fold_dot_rows(V, C) / (nv * _fold_norm(C))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "nv": nv,
                    "centroid_id": pdf["centroid_id"],
                    "cos": cos,
                }
            )

    return cand.mapInPandas(
        batches, schema="vec_id long, nv double, centroid_id long, cos double"
    )


def assign_by_join(vectors: DataFrame, cent_df: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as a JOIN against the centroid
    relation: (vec_id, v) × (centroid_id, cv) → (vec_id, v, nv,
    list_id).  The centroids ship through the ENGINE — a broadcast
    exchange (one torrent transfer per executor), never in the task
    closure and never via a driver collect (reference S14 discipline,
    README.md:28-45).  Fold-exact cosine per candidate row, then a
    hash-aggregate argmax: max(struct(cos, -centroid_id)) realizes the
    (cos DESC, centroid_id ASC) tie-break without a window sort.  The
    vector side re-joins by vec_id to regain the embedding — the
    n-row side shuffles ONCE on its key; the n×k candidate relation
    never carries the 64-double vectors into the aggregate."""
    scored = _score_candidates(
        vectors.crossJoin(F.broadcast(cent_df))
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("cos"),
                (-F.col("centroid_id")).alias("neg_id"),
                F.col("nv"),
            )
        ).alias("b")
    )
    return vectors.join(best, "vec_id").select(
        "vec_id",
        "v",
        F.col("b.nv").alias("nv"),
        (-F.col("b.neg_id")).alias("list_id"),
    )


def semantic_dedup_joined(
    emb: DataFrame,
    cent_df: DataFrame,
    threshold: float = 0.25,
    expected_k: int | None = None,
    expected_n: int | None = None,
) -> DataFrame:
    """:func:`semantic_dedup` with JOIN-BASED assignment — the
    k > SEMDEDUP_CLOSURE_K_MAX tier (VERDICT r9 #2).  Identical
    semantics and bit-identical doubles to the closure path (asserted
    in tests/test_semdedup_joined.py); the difference is purely how
    the centroids reach the tasks: a broadcast relation instead of a
    serialized closure matrix, and no O(k) driver collect anywhere —
    ``cent_df`` is typically :func:`scaled_centroids_df`.

    ``expected_k`` (when known from the same count() that sized the
    centroid set) guards the broadcast ceiling: past
    SEMDEDUP_BROADCAST_BYTES of centroid vectors, flat O(n·k)
    assignment is the wrong plan at ANY transport and the caller
    should route through :func:`semantic_dedup_two_level` — raising
    here beats silently planning a 100-TB-scale cross product.
    ``expected_n`` (the corpus count, when the caller already has it)
    arms the second guard: past SEMDEDUP_PAIRROW_BUDGET candidate
    rows the flat shape is out of regime regardless of broadcast size
    (the round-11 sf100 post-mortem) — callers who don't know the
    regime map should use :func:`semantic_dedup_dispatch`, which
    picks the tier instead of raising."""
    if expected_k is not None and expected_k * EMBED_DIM * 8 > SEMDEDUP_BROADCAST_BYTES:
        raise ValueError(
            f"k={expected_k} centroids exceed the broadcast ceiling "
            f"({SEMDEDUP_BROADCAST_BYTES} B of vectors): flat assignment is "
            "O(n*k) pair rows by this size — use semantic_dedup_two_level "
            "(O(n*sqrt(k)) equi-join routing) instead"
        )
    if (
        expected_k is not None
        and expected_n is not None
        and expected_n * expected_k > SEMDEDUP_PAIRROW_BUDGET
    ):
        raise ValueError(
            f"n*k = {expected_n}*{expected_k} exceeds the flat-assignment "
            f"pair-row budget ({SEMDEDUP_PAIRROW_BUDGET}): the candidate "
            "relation would materialize that many two-array Arrow rows "
            "(the killed round-11 sf100 sweep leg) — use "
            "semantic_dedup_dispatch (auto-tier) or "
            "semantic_dedup_two_level_joined (O(n*sqrt(k)) routing)"
        )
    vectors = fan_out(emb, "vec_id").select(
        "vec_id", as_double("embedding").alias("v")
    )
    assigned = assign_by_join(vectors, cent_df).persist()
    # persist + pin: feeds both sides of the pair self-join AND the
    # final anti-join (the round-5 concurrent-fan-in trap)
    assigned.count()
    return _purge_within_lists(assigned, threshold)


def _argmax_by_cos(scored: DataFrame, id_col: str) -> DataFrame:
    """(vec_id, nv, <id_col>, cos) → per-vec_id argmax with the
    (cos DESC, id ASC) tie-break as a map-side-combinable struct max —
    only one row per vec_id crosses the exchange."""
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cos"),
                    (-F.col(id_col)).alias("neg_id"),
                    F.col("nv"),
                )
            ).alias("b")
        )
        .select(
            "vec_id",
            F.col("b.nv").alias("nv"),
            (-F.col("b.neg_id")).alias(id_col),
        )
    )


def semantic_dedup_two_level_joined(
    emb: DataFrame,
    cent_df: DataFrame,
    threshold: float = 0.25,
    nprobe: int = 2,
    expected_k: int | None = None,
) -> DataFrame:
    """:func:`semantic_dedup_two_level` with every stage RELATIONAL —
    the k > SEMDEDUP_CLOSURE_K_MAX tier of the router (and the only
    form that works at k ~ 1e5+, where the closure path's O(k) driver
    collect and per-task centroid matrix are exactly the bottlenecks
    VERDICT r9 #2 banned).  Bit-identical to the closure path
    (tests/test_semdedup_joined.py): same Lloyd-mean supers in the
    same fold order, same tie-breaks realized as struct-max
    aggregates and (cos DESC, id ASC) windows.

    Stage shapes, for k centroids / m = ceil(sqrt(k)) supers:
    - centroid ranking: a global row_number over the k-row id column
      (narrow: ids only, one bounded task — k ~ n/500), joined back;
    - init membership + final routing: k×m candidate rows through the
      fold kernel, argmax aggregate (only k rows cross the exchange);
    - Lloyd means: applyInPandas over m groups of the k-row relation;
    - vector probing: n×m narrow score rows, top-nprobe window
      partitioned by vec_id;
    - candidates: equi-join on sidx (children) + vec_id (vectors) —
      n·nprobe·(k/m) rows, the O(n·sqrt(k)) term.
    The m-row mean-super relation broadcasts; the k-row child relation
    moves by shuffle — nothing scales with n on the build side."""
    import numpy as np
    import pandas as pd

    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    # expected_k (from the scaled_centroid_plan that built cent_df)
    # skips a recount of the centroid relation — which would re-run
    # its rank-cut derivation end to end.
    k = expected_k if expected_k is not None else cent_df.count()
    if k < 1:
        raise ValueError("centroid relation is empty")
    import math

    m = int(math.ceil(math.sqrt(k)))  # float sqrt: lockstep everywhere

    ranked = cent_df.select("centroid_id").withColumn(
        "cidx", F.row_number().over(Window.orderBy("centroid_id")) - 1
    )
    cent = cent_df.join(ranked, "centroid_id")  # (centroid_id, cv, cidx)

    init = cent.where(F.col("cidx") % m == 0).select(
        (F.col("cidx") / m).cast("long").alias("sidx"),
        F.col("centroid_id").alias("init_id"),
        F.col("cv").alias("iv"),
    )

    # init membership: non-init centroids score every init (k×m rows),
    # argmax (cos DESC, sidx ASC); inits self-parent
    noninit_scored = _score_candidates(
        cent.where(F.col("cidx") % m != 0)
        .select(F.col("centroid_id").alias("vec_id"), F.col("cv").alias("v"))
        .crossJoin(
            F.broadcast(
                init.select(F.col("sidx").alias("centroid_id"), F.col("iv").alias("cv"))
            )
        )
    ).withColumnRenamed("centroid_id", "sidx")
    memb = (
        _argmax_by_cos(noninit_scored, "sidx")
        .select(F.col("vec_id").alias("centroid_id"), "sidx")
        .unionByName(init.select(F.col("init_id").alias("centroid_id"), "sidx"))
        .join(cent.select("centroid_id", "cv"), "centroid_id")
    )

    def mean_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("centroid_id")
        M_ = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
        acc = np.zeros(M_.shape[1])
        for i in range(M_.shape[0]):  # ascending centroid_id fold
            acc = acc + M_[i]
        return pd.DataFrame(
            {"sidx": [int(pdf["sidx"].iloc[0])], "sv": [list(acc / M_.shape[0])]}
        )

    sup = memb.groupBy("sidx").applyInPandas(
        mean_kernel, schema="sidx long, sv array<double>"
    )

    # final routing: EVERY centroid to its nearest mean
    childs = (
        _argmax_by_cos(
            _score_candidates(
                cent.select(
                    F.col("centroid_id").alias("vec_id"), F.col("cv").alias("v")
                ).crossJoin(
                    F.broadcast(
                        sup.select(
                            F.col("sidx").alias("centroid_id"),
                            F.col("sv").alias("cv"),
                        )
                    )
                )
            ).withColumnRenamed("centroid_id", "sidx"),
            "sidx",
        )
        .select(F.col("vec_id").alias("centroid_id"), "sidx")
        .join(cent.select("centroid_id", "cv"), "centroid_id")
    )

    asup = sup.join(childs.select("sidx").distinct(), "sidx")

    vectors = fan_out(emb, "vec_id").select(
        "vec_id", as_double("embedding").alias("v")
    )
    vprobe_scored = _score_candidates(
        vectors.crossJoin(
            F.broadcast(
                asup.select(F.col("sidx").alias("centroid_id"), F.col("sv").alias("cv"))
            )
        )
    ).withColumnRenamed("centroid_id", "sidx")
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("sidx").asc()
    )
    probed = (
        vprobe_scored.withColumn("rs", F.row_number().over(w))
        .where(F.col("rs") <= nprobe)
        .select("vec_id", "sidx")
    )

    cand = probed.join(vectors, "vec_id").join(
        childs.select("sidx", "centroid_id", F.col("cv")), "sidx"
    )
    best = _argmax_by_cos(
        _score_candidates(cand.select("vec_id", "v", "centroid_id", "cv")),
        "centroid_id",
    )
    assigned = vectors.join(
        best.select("vec_id", "nv", F.col("centroid_id").alias("list_id")),
        "vec_id",
    ).persist()
    assigned.count()
    return _purge_within_lists(assigned, threshold)


def _purge_within_lists(assigned: DataFrame, threshold: float) -> DataFrame:
    """SemDeDup's purge stage over an assigned (vec_id, v, nv, list_id)
    relation (caller persists + count-pins it): within each list_id,
    drop every vector with a >= threshold cosine to a LOWER-id
    cluster-mate; the min-id representative of each epsilon-ball
    survives.  Never all-pairs across clusters.

    ONE grouped Arrow kernel per cluster (r13, the ivf_scored_pair
    discipline): the former list_id self-join materialized O(pairs)
    rows EACH carrying two EMBED_DIM-double vectors through the Arrow
    boundary of the scoring kernel, then paid a distinct + anti-join
    shuffle pair — while the join's list_id hash partitioning had
    already serialized each cluster's pair generation into one task
    anyway.  Grouping ships each vector ONCE — O(n·d) Arrow bytes
    instead of O(pairs·d) — and the kernel emits survivors directly
    (no distinct, no anti-join).  Bit-equality: cell (i, j) of the
    blocked _fold_dot_matrix pass is the identical left-fold operation
    sequence as _score_pairs' per-pair _fold_dot_rows with the
    lower-id vector as left factor (rows sorted by vec_id), and the
    denominator multiplies norms in the same (lower, higher) order —
    pinned by tests/test_semdedup_joined.py
    test_grouped_purge_bit_identical_to_pair_join_path."""
    import numpy as np
    import pandas as pd

    def purge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        m = len(pdf)
        if m <= 1:
            return pdf[["vec_id", "list_id"]]
        V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        nv = pdf["nv"].to_numpy()
        purged = np.zeros(m, dtype=bool)
        jj = np.arange(m)[None, :]
        block = 2048  # caps the (block, m) cosine slab, like _dists_int
        for i0 in range(0, m, block):
            i1 = min(i0 + block, m)
            cos = _fold_dot_matrix(V[i0:i1], V) / (
                nv[i0:i1, None] * nv[None, :]
            )
            ii = np.arange(i0, i1)[:, None]
            purged |= ((cos >= threshold) & (jj > ii)).any(axis=0)
        return pdf.loc[~purged, ["vec_id", "list_id"]]

    return (
        assigned.select("vec_id", "nv", "list_id", "v")
        .groupBy("list_id")
        .applyInPandas(purge, schema="vec_id long, list_id long")
    )


def _lloyd_round_supers(C, cnorms):
    """One fold-exact Lloyd round over the centroid matrix: init
    supers are every m-th centroid (m = ceil(sqrt(k)) over the
    ascending-id list), each centroid routes to its nearest init
    (self-forced for the inits — an FP self-cosine is 1±ulp and could
    lose a tie, emptying a member set), and each super becomes the
    per-dim MEAN of its members in ascending-centroid-index fold
    order (acc seeded 0.0, one division by the member count) — the
    identical operation sequence the DuckDB oracle's
    list_reduce/count(*) expression runs, so the means are
    bit-reproducible.  Returns (S_means, member_parent0) — the means
    and the init membership.  Means track the local data mass, so
    child-set sizes stay far more even than raw every-m-th-id supers
    (the measured skew that made nprobe=1 routing lose below the
    crossover — VERDICT r9 #3)."""
    import math

    import numpy as np

    k = C.shape[0]
    m = int(math.ceil(math.sqrt(k)))  # float sqrt: lockstep with the oracle
    sup_idx = np.arange(0, k, m)
    S0, s0norms = C[sup_idx], cnorms[sup_idx]
    parent0 = np.argmax(
        _fold_dot_matrix(C, S0) / (cnorms[:, None] * s0norms[None, :]), axis=1
    )
    parent0[sup_idx] = np.arange(len(sup_idx))
    S = np.zeros((len(sup_idx), C.shape[1]))
    for p in range(len(sup_idx)):
        members = np.flatnonzero(parent0 == p)  # ascending centroid index
        acc = np.zeros(C.shape[1])
        for i in members:
            acc = acc + C[i]
        S[p] = acc / len(members)
    return S, parent0


def two_level_assignment(
    emb: DataFrame,
    centroid_ids: list[int] | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """The ASSIGNMENT stage of :func:`semantic_dedup_two_level` —
    (vec_id, v, nv, list_id) via super-routing, shared by the dedup
    path (which persists it and purges within lists) and the
    monitoring queries that need the router's list structure WITHOUT
    the quadratic purge (semantic_cluster_sizes_routed: the histogram
    at the decade where exact flat assignment is fenced,
    BENCH_sf100.json fenced_out).  Deterministic pure function — the
    DuckDB hier CTEs reproduce it hash-exactly.

    SemDeDup with TWO-LEVEL centroid routing — the assignment-cost
    fix for the fourth decade.  Flat assignment is O(n·k) cosine
    folds; with the corpus-scaled k ~ n/500 that term grows ~n²/500
    and eventually dominates (the SemDeDup paper pays it on GPUs).
    Supers come from ONE fold-exact Lloyd round (init = every m-th
    centroid, m = ceil(sqrt(k)); supers = member MEANS — see
    _lloyd_round_supers: means track data mass, so child sets stay
    even), every centroid routes to its nearest mean, and each vector
    probes its top-``nprobe`` supers (default 2) then picks the
    nearest centroid among their children — O(n·(sqrt(k) +
    nprobe·k/sqrt(k))) = O(n·sqrt(k)) folds.

    The routing is a deterministic pure function (all tiebreaks
    cos DESC, index ASC; same fold kernels as ivf_topk; the Lloyd
    means in a fixed fold order), so the DuckDB oracle reproduces the
    identical two-level assignment from fixed SQL — hash-exact, not
    approximately-equal.  Routing may differ from flat assignment for
    vectors near cluster boundaries (the standard IVF
    coarse-quantizer trade), so this is a sibling of semantic_dedup,
    not a drop-in twin.

    Purge semantics after assignment are identical (shared
    _purge_within_lists).

    Vectors rank only supers that HAVE children after the final
    routing (a mean can end up childless; probing it would strand the
    vector) — the oracle applies the same restriction.
    DEGENERACY CONTRACT, pinned by tests: with nprobe >= the
    (non-empty) super count every centroid is a candidate for every
    vector, so the routing collapses to exactly flat assignment and
    the result equals semantic_dedup bit-for-bit."""
    import numpy as np
    import pandas as pd

    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    if centroid_ids is not None and not centroid_ids:
        raise ValueError("centroid_ids must be non-empty (or None for defaults)")
    want = sorted(centroid_ids if centroid_ids is not None else CENTROID_IDS)
    cents = _centroids(emb, want)
    if [cid for cid, _ in cents] != want:
        missing = sorted(set(want) - {cid for cid, _ in cents})
        raise ValueError(
            f"centroid vec_ids missing from the input corpus: {missing} — "
            "semantic_dedup_two_level requires every centroid row to be "
            "present; pass centroid_ids= with ids that exist in this relation"
        )
    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([cv for _, cv in cents], dtype=np.float64)
    cnorms = _fold_norm(C)
    S, _ = _lloyd_round_supers(C, cnorms)
    snorms = _fold_norm(S)
    # final routing: EVERY centroid (inits included) to its nearest
    # mean — argmax first-win over ascending super index == (cos DESC,
    # super_idx ASC)
    parent = np.argmax(
        _fold_dot_matrix(C, S) / (cnorms[:, None] * snorms[None, :]), axis=1
    )
    children = [np.flatnonzero(parent == p) for p in range(S.shape[0])]
    nonempty = np.array(
        [p for p in range(S.shape[0]) if children[p].size], dtype=np.int64
    )
    S_act, s_act_norms = S[nonempty], snorms[nonempty]

    probe = min(nprobe, len(nonempty))

    def assign_two_level(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            nv = _fold_norm(V)
            sup_cos = _fold_dot_matrix(V, S_act) / (
                nv[:, None] * s_act_norms[None, :]
            )
            # top-`probe` supers per row via repeated first-win argmax
            # (each round == next rank of (cos DESC, super_idx ASC),
            # restricted to non-empty supers like the oracle)
            p_mat = np.empty((len(V), probe), dtype=np.int64)
            for t in range(probe):
                p_mat[:, t] = np.argmax(sup_cos, axis=1)
                sup_cos[np.arange(len(V)), p_mat[:, t]] = -np.inf
            lists = np.empty(len(V), dtype=np.int64)
            # group rows by their (sorted) probed-super set — candidate
            # centroids depend only on the set
            combos = np.sort(p_mat, axis=1)
            for combo in np.unique(combos, axis=0):
                rows = np.flatnonzero((combos == combo).all(axis=1))
                ch = np.sort(
                    np.concatenate(
                        [children[nonempty[p]] for p in np.unique(combo)]
                    )
                )  # ascending cidx == ascending centroid_id tiebreak
                cos = _fold_dot_matrix(V[rows], C[ch]) / (
                    nv[rows, None] * cnorms[ch][None, :]
                )
                lists[rows] = cids[ch[np.argmax(cos, axis=1)]]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "v": pdf["v"], "nv": nv, "list_id": lists}
            )

    return (
        fan_out(emb, "vec_id")
        .select("vec_id", as_double("embedding").alias("v"))
        .mapInPandas(
            assign_two_level,
            schema="vec_id long, v array<double>, nv double, list_id long",
        )
    )


def semantic_dedup_two_level(
    emb: DataFrame,
    threshold: float = 0.25,
    centroid_ids: list[int] | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """Two-level-routed SemDeDup: :func:`two_level_assignment` (see
    its docstring for the routing model and determinism contract) +
    the shared within-list purge.  The assignment relation feeds both
    sides of the pair self-join AND the final anti-join, so it is
    persist-pinned here (the round-5 concurrent-fan-in trap)."""
    assigned = two_level_assignment(
        emb, centroid_ids=centroid_ids, nprobe=nprobe
    ).persist()
    assigned.count()
    return _purge_within_lists(assigned, threshold)


def semantic_dedup_dispatch(
    emb: DataFrame,
    per_cluster: int = SEMDEDUP_PER_CLUSTER,
    threshold: float = 0.25,
    nprobe: int = 2,
) -> DataFrame:
    """Regime-aware SemDeDup: ONE entry point that picks the
    assignment tier from the measured cost model, so no caller has to
    know the regime map (VERDICT r11 #1 — the only guard used to be
    the broadcast-bytes ceiling, which the killed sf100 sweep leg
    never tripped: its k=4000 centroid set was a harmless 2 MB while
    the pair relation was 8e9 Arrow rows).

    - n*k <= SEMDEDUP_PAIRROW_BUDGET: FLAT assignment through the
      broadcast-relation joined tier — exact, bit-identical to the
      closure tier (tests/test_semdedup_joined.py).
    - above the budget: TWO-LEVEL routing through
      :func:`semantic_dedup_two_level_joined` — O(n*sqrt(k))
      assignment, fully relational (no O(k) driver traffic at any k).
      Results then follow the router's documented IVF boundary trade
      (purge recall vs flat: 0.991 at sf1, 0.999 at sf10; 2.5x faster
      at sf100 where flat is out of regime entirely) — the same
      semantics as the registered semantic_dedup_hier family and its
      hash-exact hier oracle CTEs.

    Both tiers derive the IDENTICAL centroid set from one
    :func:`scaled_centroid_plan` call, so the dispatch decision and
    the guards inside the flat tier key off the same clamped k."""
    cent_df, k, n = scaled_centroid_plan(emb, per_cluster)
    if n * k > SEMDEDUP_PAIRROW_BUDGET:
        return semantic_dedup_two_level_joined(
            emb, cent_df, threshold=threshold, nprobe=nprobe, expected_k=k
        )
    return semantic_dedup_joined(
        emb, cent_df, threshold=threshold, expected_k=k, expected_n=n
    )
