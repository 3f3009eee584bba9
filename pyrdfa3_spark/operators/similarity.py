"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk` — brute-force baseline, pure Column algebra
  (``zip_with`` + ``aggregate``), exact.
* :func:`lsh_cosine_candidates` — random-hyperplane LSH scale path: the
  all-pairs join is replaced by a bucket join; planes are deterministic
  (seeded arithmetic, no RNG) so results are reproducible and the SQL
  oracle can mirror them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of (query_id, vec_id, cos_sim) WITHOUT a window:
    a per-query ranking window puts every candidate of a query into one
    partition (the whole corpus per query at scale).  Two-phase instead:
    partial top-k inside each scan partition (bounded by partition
    size), then a merge of the ≤ partitions×k survivors — both phases
    are sort+slice over small in-row arrays.  Ordering matches the
    previous window exactly: cos_sim DESC, vec_id ASC."""
    item = F.struct((-F.col("cos_sim")).alias("neg"),
                    F.col("vec_id").alias("vec_id"))
    partial = (scored
               .groupBy("query_id", F.spark_partition_id().alias("p"))
               .agg(F.slice(F.array_sort(F.collect_list(item)), 1, k)
                    .alias("top")))
    merged = (partial
              .select("query_id", F.explode("top").alias("r"))
              .groupBy("query_id")
              .agg(F.slice(F.array_sort(F.collect_list("r")), 1, k)
                   .alias("top")))
    return (merged
            .select("query_id", F.posexplode("top").alias("pos", "r"))
            .select(F.col("query_id").cast("bigint").alias("query_id"),
                    F.col("r.vec_id").cast("bigint").alias("vec_id"),
                    (-F.col("r.neg")).alias("cos_sim"),
                    (F.col("pos") + 1).cast("bigint").alias("rank")))


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk(embeddings: DataFrame, query_ids: list[int],
                top_k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbours for the given query vec_ids.

    Scale shape: the query side is tiny -> broadcast; the corpus side
    streams once; ranking is the two-phase partition-local top-k of
    :func:`_topk_per_query` — no per-query global ranking window.
    """
    from pyrdfa3_spark.operators.dedup import _scale_out

    embeddings = embeddings.withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    q = (embeddings
         .filter(F.col("vec_id").isin([int(i) for i in query_ids]))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb")))
    pairs = (_scale_out(embeddings).crossJoin(F.broadcast(q))
             .filter(F.col("vec_id") != F.col("query_id")))
    scored = pairs.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.round(_dot(F.col("q_emb"), F.col("embedding"))
                / (_norm(F.col("q_emb")) * _norm(F.col("embedding"))),
                4).alias("cos_sim"))
    return _topk_per_query(scored, top_k)


def plane_values(dim: int, p: int) -> list[float]:
    """Deterministic pseudo-random hyperplane p: component i is
    sin(1 + i + dim * p), precomputed in Python and inlined as literals
    so Spark and the SQL oracle use bit-identical constants."""
    import math

    return [math.sin(1 + i + dim * p) for i in range(dim)]


def _plane(dim: int, p: int):
    return F.array(*[F.lit(v) for v in plane_values(dim, p)])


def lsh_bucket(embeddings: DataFrame, dim: int = 64,
               n_planes: int = 8) -> DataFrame:
    """Random-hyperplane signature: bit p = (v . plane_p) >= 0.
    Output: vec_id, bucket (bigint 0..2^n_planes-1)."""
    from pyrdfa3_spark.operators.dedup import _scale_out

    embeddings = _scale_out(embeddings).withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    sig = F.lit(0).cast("bigint")
    for p in range(n_planes):
        bit = (_dot(F.col("embedding"), _plane(dim, p)) >= 0)
        sig = sig + F.when(bit, F.lit(2 ** p).cast("bigint")).otherwise(0)
    return embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        sig.alias("bucket"))


def lsh_cosine_candidates(embeddings: DataFrame, dim: int = 64,
                          n_planes: int = 8,
                          max_bucket: int = 512) -> DataFrame:
    """ANN candidate pairs: vectors sharing an LSH bucket
    (vec_a < vec_b).  groupBy(bucket) + in-bucket pair expansion: one
    shuffle of O(corpus) rows, and the signature lineage (8 dot products
    per row) is computed exactly once (the membership frame is
    eagerly localCheckpointed, so the equi-self-join does not recompute
    it and AQE plans from materialized sizes).  Buckets
    larger than ``max_bucket`` (degenerate near-identical clusters) are
    star-linked to their minimum member with no per-bucket arrays — see
    ``dedup._capped_bucket_pairs``."""
    from pyrdfa3_spark.operators.dedup import _capped_bucket_pairs

    b = lsh_bucket(embeddings, dim, n_planes)
    return (_capped_bucket_pairs(b, ["bucket"], "vec_id",
                                 "vec_a", "vec_b", max_bucket)
            .select("vec_a", "vec_b", "bucket"))


def embedding_near_dups(embeddings: DataFrame, dim: int = 64,
                        n_planes: int = 8, threshold: float = 0.9,
                        max_bucket: int = 512) -> DataFrame:
    """Embedding-cosine near-duplicate detection, composed production
    flow: LSH bucket candidates -> exact cosine verify -> threshold.
    The candidate frame is ``localCheckpoint(eager=True)``-ed so the
    bucket lineage runs once and the blocks self-release on GC; the
    verify join touches only candidate pairs, never all-pairs.
    Output: (vec_a, vec_b, cos_sim) with cos_sim >= threshold."""
    cands = lsh_cosine_candidates(embeddings, dim, n_planes,
                                  max_bucket).select("vec_a", "vec_b") \
        .localCheckpoint(eager=True)
    e = embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("emb"))
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    return (cands.join(a, "vec_a").join(b, "vec_b")
            .select("vec_a", "vec_b",
                    F.round(_cos(F.col("ea"), F.col("eb")), 4)
                    .alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + cell-restricted
# search.  Training is a driver-side Lloyd loop (distributed assignment +
# per-dimension mean; the centroid table itself is tiny and broadcast as
# literals).  Search touches only the nprobe closest cells per query —
# the corpus-side work is O(corpus/n_cells * nprobe) instead of
# O(corpus), and the cell column can partition the corpus table so a
# probe is a partition-pruned scan.
# --------------------------------------------------------------------------


def _cos(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _centroid_sims(emb_col, centroids: list[list[float]]):
    """Per-centroid cosine similarities, computing the row vector's norm
    once (not once per centroid); centroid norms are Python-side
    constants folded into the literals."""
    import math

    vnorm = _norm(emb_col)
    sims = []
    for c in centroids:
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        arr = F.array(*[F.lit(v) for v in c])
        sims.append(F.round(_dot(emb_col, arr) / (vnorm * F.lit(cn)), 9))
    return sims


def _best_cell(emb_col, centroids: list[list[float]]):
    """Index of the max-cosine centroid (struct-max trick; ties to the
    lower index)."""
    scored = [
        F.struct(sim.alias("sim"), F.lit(-i).alias("negidx"))
        for i, sim in enumerate(_centroid_sims(emb_col, centroids))
    ]
    return (-F.array_max(F.array(*scored))["negidx"]).cast("int")


def ivf_train(embeddings: DataFrame, n_cells: int = 16,
              iters: int = 3) -> list[list[float]]:
    """Deterministic k-means coarse quantizer: init = the ``n_cells``
    vectors with the smallest vec_id, then ``iters`` Lloyd rounds
    (assignment distributed, means collected — n_cells x dim values)."""
    emb = embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"))
    centroids = [r["embedding"] for r in
                 emb.orderBy("vec_id").limit(n_cells).collect()]
    for _ in range(iters):
        assigned = emb.withColumn(
            "cell", _best_cell(F.col("embedding"), centroids))
        means = (assigned
                 .select("cell", F.posexplode("embedding")
                         .alias("pos", "val"))
                 .groupBy("cell", "pos")
                 .agg(F.avg("val").alias("m"))
                 .groupBy("cell")
                 .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                      .alias("pm"))
                 .select("cell", F.col("pm.m").alias("centroid"))
                 .collect())
        new = list(centroids)  # empty cells keep their previous centroid
        for r in means:
            new[r["cell"]] = list(r["centroid"])
        centroids = new
    return centroids


def ivf_train_local(sf_dir: str, n_cells: int = 16, iters: int = 2,
                    sample_rows: int = 200_000) -> list[list[float]]:
    """Driver-side trainer twin of :func:`ivf_train` over a parquet
    sample — standard IVF practice: the coarse quantizer is trained on a
    driver-resident sample and only *assignment + probe* run
    distributed.  The read is CAPPED at ``sample_rows`` (streamed in
    record batches, never the whole table — a 100 TB corpus must not
    land on the driver).  Identical semantics to ivf_train (min-vec_id
    init, cosine argmax with ties to the lower cell, per-dimension
    means, empty cells keep their centroid); the returned floats are
    inlined as plan literals, which is what lets the SQL oracle mirror
    the probe stage bit-for-bit (same trick as :func:`plane_values`)."""
    import numpy as np
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(f"{sf_dir}/embeddings.parquet")
    batches, seen = [], 0
    for batch in pf.iter_batches(columns=["vec_id", "embedding"],
                                 batch_size=min(sample_rows, 65_536)):
        batches.append(batch)
        seen += batch.num_rows
        if seen >= sample_rows:
            break
    vid = np.concatenate([b["vec_id"].to_numpy() for b in batches])
    emb = np.array([v for b in batches
                    for v in b["embedding"].to_pylist()],
                   dtype=np.float64)[:sample_rows]
    vid = vid[:sample_rows]
    order = np.argsort(vid)
    emb = emb[order]
    cents = emb[:n_cells].copy()
    for _ in range(iters):
        cn = np.sqrt((cents ** 2).sum(1))
        cn[cn == 0] = 1.0
        vn = np.sqrt((emb ** 2).sum(1))
        sims = np.round(emb @ cents.T / (vn[:, None] * cn[None, :]), 9)
        cell = np.argmax(sims, 1)          # ties -> lowest index
        new = cents.copy()
        for c in range(n_cells):
            members = cell == c
            if members.any():
                new[c] = emb[members].mean(0)
        cents = new
    return [[float(v) for v in c] for c in cents]


def ivf_assign(embeddings: DataFrame,
               centroids: list[list[float]]) -> DataFrame:
    """vec_id -> IVF cell (partitioning column for the corpus table)."""
    return embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        _best_cell(F.col("embedding").cast("array<double>"),
                   centroids).alias("cell"))


def semantic_dedup(embeddings: DataFrame, centroids: list[list[float]],
                   threshold: float = 0.85,
                   max_bucket: int = 512) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space with the k-means coarse quantizer, compare cosine
    similarity ONLY within each cluster, and drop every vector that has
    a smaller-id near-duplicate — the semantic complement to MinHash
    (catches paraphrases and re-encodings exact shingles miss).

    Output: the delete-list — one row per dropped vector,
    ``(vec_id, keep_id, cos_sim)`` where ``keep_id`` is the smallest
    confirmed near-duplicate and ``cos_sim`` the similarity to it.

    Scale shape: cell assignment is in-row column algebra against
    centroid literals (no shuffle); within-cell pairs come from the
    capped bucket-pair generator (AQE splits hot cells, degenerate
    cells star-link — never a per-cell array); the verify join touches
    candidate pairs only.  Cluster count bounds the per-cell pair
    fan-out exactly as in the paper (they use k≈10^5 for 10^8 docs).
    """
    from pyrdfa3_spark.operators.dedup import _capped_bucket_pairs

    members = ivf_assign(embeddings, centroids)
    pairs = _capped_bucket_pairs(members, ["cell"], "vec_id",
                                 "vec_a", "vec_b", max_bucket)
    e = embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("emb"))
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    confirmed = (pairs.select("vec_a", "vec_b")
                 .join(a, "vec_a").join(b, "vec_b")
                 .select("vec_a", "vec_b",
                         F.round(_cos(F.col("ea"), F.col("eb")), 4)
                         .alias("cos_sim"))
                 .filter(F.col("cos_sim") >= threshold))
    # vec_a < vec_b always, so vec_b is the candidate to drop and the
    # smallest confirmed vec_a is its keeper
    return (confirmed.groupBy(F.col("vec_b").alias("vec_id"))
            .agg(F.min("vec_a").cast("bigint").alias("keep_id"),
                 F.min_by("cos_sim", "vec_a").alias("cos_sim")))


def ivf_topk(embeddings: DataFrame, query_ids: list[int],
             centroids: list[list[float]], nprobe: int = 2,
             top_k: int = 5) -> DataFrame:
    """Approximate top-k cosine neighbours: each query searches only its
    ``nprobe`` best cells.  Join key is the cell -> the corpus side is a
    cell-pruned fraction of the table, broadcast-joined to the tiny
    query list."""
    emb = embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"))
    corpus = emb.withColumn("cell", _best_cell(F.col("embedding"),
                                               centroids))
    scored_cells = F.array(*[
        F.struct(sim.alias("sim"), F.lit(i).alias("idx"))
        for i, sim in enumerate(_centroid_sims(F.col("embedding"),
                                               centroids))
    ])
    probes = (emb
              .filter(F.col("vec_id").isin([int(i) for i in query_ids]))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("q_emb"),
                      F.slice(F.reverse(F.array_sort(scored_cells)),
                              1, nprobe)["idx"].alias("cells"))
              .select("query_id", "q_emb",
                      F.explode("cells").alias("cell")))
    pairs = (corpus.join(F.broadcast(probes), "cell")
             .filter(F.col("vec_id") != F.col("query_id")))
    scored = pairs.select(
        F.col("query_id"), F.col("vec_id"),
        F.round(_cos(F.col("q_emb"), F.col("embedding")), 4)
        .alias("cos_sim"))
    return _topk_per_query(scored, top_k)
