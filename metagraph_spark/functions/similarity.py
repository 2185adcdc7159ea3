"""Similarity search over an embedding column ``(vec_id: long,
embedding: array<float>)``.

- ``cosine_topk_bruteforce``: exact top-k neighbors for a set of query
  vectors — cross-join + JVM dot product (``F.zip_with``/``F.aggregate``)
  + windowed top-k. The correctness baseline.
- ``cosine_all_pairs_topk``: exact per-row top-k within one table (near-dup
  detection by embedding); same plan, self-join.
- ``lsh_topk``: the scale path — random-hyperplane LSH (sign bits of dot
  products with seeded Gaussian vectors, computed in one vectorized pandas
  UDF matmul per Arrow batch) buckets vectors; candidates = bucket
  collisions across ``num_tables`` independent tables; exact cosine rerank
  on candidates only. Tunable recall; candidates shrink the join from
  O(N·Q) to colliding pairs.
- ``embedding_near_duplicates``: all-pairs cosine ≥ threshold via LSH
  candidates (or brute force for small N).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from metagraph_spark import routing


def _norm(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def with_unit_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add ``_unit`` (L2-normalized vector) and drop zero vectors."""
    n = _norm(F.col(vec_col))
    return df.filter(n > 0).withColumn(
        "_unit", F.transform(F.col(vec_col), lambda x: x / n)
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact ``(query_id, neighbor_id, cosine, rank)`` top-k.

    Scale plan (guide §4.2): the query matrix is broadcast and each corpus
    Arrow batch is scored VECTORIZED in numpy — the per-element
    interpreted ``zip_with``/``aggregate`` lambdas of the old crossJoin
    plan were the dominant cost (measured 4.2 s for 30M 64-dim pairs).
    The dot product accumulates dimension-ascending (``acc += c_d·q_d``),
    the exact operation order of the JVM fold, so cosines are
    BIT-IDENTICAL to the previous plan. Each batch also pre-reduces to
    its per-query top-k under the final total order (cosine desc, id asc)
    — global top-k is a union of batch top-ks, so the window at the end
    sorts thousands of candidate rows instead of |corpus|·|queries|.
    Falls back to the crossJoin plan past
    ``routing.BRUTEFORCE_VECTORIZED_MAX_QUERIES``."""
    c = with_unit_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("_unit").alias("_cu")
    )
    q = with_unit_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_unit").alias("_qu")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    # vectorized path requires integral ids (they round-trip through numpy
    # arrays and a declared long schema); size-probe via limit: collect at
    # most cap+1 rows — over the cap the head is discarded and the
    # crossJoin fallback runs
    q_rows = None
    int_ids = isinstance(
        c.schema["neighbor_id"].dataType, T.LongType
    ) and isinstance(q.schema["query_id"].dataType, T.LongType)
    if int_ids:
        cap = routing.BRUTEFORCE_VECTORIZED_MAX_QUERIES
        q_head = q.limit(cap + 1).collect()
        if len(q_head) <= cap:
            q_rows = q_head
    if q_rows is not None and len(q_rows) > 0:
        spark = corpus.sparkSession
        qids = np.array([r["query_id"] for r in q_rows])
        qmat = np.vstack([np.asarray(r["_qu"], dtype=np.float64)
                          for r in q_rows])
        bc = spark.sparkContext.broadcast((qids, qmat))
        kk = int(k)

        def score(batches):
            qi, qm = bc.value
            nq, dim = qm.shape
            for pdf in batches:
                b = len(pdf)
                if b == 0:
                    continue
                C = np.vstack(
                    [np.asarray(v, dtype=np.float64)
                     for v in pdf["_cu"].to_numpy()]
                )
                nid = pdf["neighbor_id"].to_numpy()
                acc = np.zeros((b, nq))
                # dimension-ascending fold == the JVM aggregate's order:
                # bit-identical doubles
                for d in range(dim):
                    acc += C[:, d][:, None] * qm[:, d][None, :]
                out_q, out_n, out_c = [], [], []
                for j in range(nq):
                    col = acc[:, j]
                    mask = nid != qi[j]
                    cj, nj = col[mask], nid[mask]
                    if len(cj) == 0:
                        continue
                    # exact batch top-k under (cosine desc, id asc)
                    order = np.lexsort((nj, -cj))[:kk]
                    out_q.append(np.full(len(order), qi[j]))
                    out_n.append(nj[order])
                    out_c.append(cj[order])
                if out_q:
                    yield pd.DataFrame(
                        {
                            "query_id": np.concatenate(out_q),
                            "neighbor_id": np.concatenate(out_n),
                            "cosine": np.concatenate(out_c),
                        }
                    )

        scored = c.mapInPandas(
            score, schema="query_id long, neighbor_id long, cosine double"
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _dot(F.col("_cu"), F.col("_qu")).alias("cosine"),
        )
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_all_pairs_topk(
    df: DataFrame, k: int = 10, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    return cosine_topk_bruteforce(df, df, k, vec_col, id_col)


def _hyperplanes(dim: int, bits: int, table: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed + 1000 * table)
    return rng.standard_normal((dim, bits)).astype(np.float64)


def lsh_bucket_udf(dim: int, bits: int, table: int, seed: int):
    planes = _hyperplanes(dim, bits, table, seed)
    weights = (1 << np.arange(bits, dtype=np.int64))

    @F.pandas_udf(T.LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())
        signs = (m @ planes) > 0
        return pd.Series((signs @ weights).astype(np.int64))

    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 12,
    num_tables: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets (num_tables independent
    tables) → candidates from bucket collisions → exact cosine rerank."""
    if dim is None:
        first = corpus.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"])
    c = with_unit_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("_unit").alias("_cu")
    ).persist()
    q = with_unit_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_unit").alias("_qu")
    ).persist()
    cand = None
    for t in range(num_tables):
        bu = lsh_bucket_udf(dim, bits, t, seed)
        cb = c.select("neighbor_id", bu(F.col("_cu")).alias("bucket"))
        qb = q.select("query_id", bu(F.col("_qu")).alias("bucket"))
        pairs = cb.join(qb, "bucket").select("query_id", "neighbor_id")
        cand = pairs if cand is None else cand.unionAll(pairs)
    cand = cand.distinct().filter(F.col("neighbor_id") != F.col("query_id"))
    scored = (
        cand.join(c, "neighbor_id")
        .join(q, "query_id")
        .select(
            "query_id", "neighbor_id", _dot(F.col("_cu"), F.col("_qu")).alias("cosine")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    out = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    return out


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    lloyd_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-style approximate top-k — the inverted-file scale path next to
    :func:`lsh_topk`:

    1. CENTROIDS: seeded init = the ``num_cells`` corpus vectors with the
       smallest ``mix31(id, seed)`` (deterministic, cross-engine
       replayable), then ``lloyd_iters`` deterministic Lloyd iterations:
       assign every corpus vector to its max-cosine centroid, replace each
       centroid by the unit-normalized MEAN of its members (spherical
       k-means update) — balances cells before the rerank join. All steps
       are JVM column expressions; the per-dim means are a posexplode +
       map-side-combinable avg whose shuffle is only num_cells × dim rows.
    2. ASSIGN (coarse quantization): each corpus vector keeps its
       max-cosine centroid — one broadcast join (JVM ``zip_with`` dot, no
       Python) + one groupBy argmax.
    3. PROBE: each query keeps its ``nprobe`` highest-cosine cells.
    4. RERANK: candidates = corpus rows in probed cells (equi-join on the
       cell id), exact cosine, windowed top-k; ties to smaller neighbor.

    At scale the corpus assignment is one pass over the corpus against a
    broadcast centroid table per Lloyd iteration, and the rerank join is
    cell-partitioned — recall is bounded by nprobe/num_cells, cost by cell
    sizes (the standard IVF trade). Returns ``(query_id, neighbor_id,
    cosine, rank)``."""
    from metagraph_spark.operators.subgraph import mix31

    # no persist: the normalized projection is a cheap map over the scan,
    # and an un-unpersisted cache here would strand a full corpus copy in
    # executor storage per call
    c = with_unit_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("_unit").alias("_cu")
    )
    q = with_unit_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_unit").alias("_qu")
    )
    cents = (
        c.select(
            F.col("neighbor_id").alias("cell"),
            F.col("_cu").alias("_cv"),
            mix31(F.col("neighbor_id"), seed).alias("_h"),
        )
        .orderBy("_h", "cell")
        .limit(num_cells)
        .drop("_h")
    )

    def _assign(cent_df: DataFrame) -> DataFrame:
        return (
            c.crossJoin(F.broadcast(cent_df))
            .select(
                "neighbor_id",
                "_cu",
                "cell",
                _dot(F.col("_cu"), F.col("_cv")).alias("_cos"),
            )
            .groupBy("neighbor_id")
            .agg(
                F.max(
                    F.struct(F.col("_cos"), (-F.col("cell")).alias("nc"))
                ).alias("b"),
                F.first("_cu").alias("_cu"),
            )
            .select("neighbor_id", (-F.col("b.nc")).alias("cell"), "_cu")
        )

    for _ in range(lloyd_iters):
        members = _assign(cents)
        means = (
            members.select("cell", F.posexplode("_cu").alias("_pos", "_v"))
            .groupBy("cell", "_pos")
            .agg(F.avg("_v").alias("_m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
                    lambda s: s["_m"],
                ).alias("_mv")
            )
        )
        # unit-normalize the mean so the broadcast dot stays a cosine;
        # degenerate (zero-norm) cells are dropped — their members re-home
        # on the next assignment
        cents = (
            means.select(
                "cell",
                F.sqrt(
                    F.aggregate(
                        "_mv", F.lit(0.0), lambda a, x: a + x * x
                    )
                ).alias("_nrm"),
                "_mv",
            )
            .filter(F.col("_nrm") > 0.0)
            .select(
                "cell",
                F.transform("_mv", lambda x: x / F.col("_nrm")).alias("_cv"),
            )
        )
        # pin the (≤ num_cells)-row centroid table: every downstream
        # consumer (next iteration, final assign, probes) would otherwise
        # replay the whole Lloyd lineage — and each replay re-aggregates
        # floats, so consumers could even see slightly different centroids
        cents = corpus.sparkSession.createDataFrame(
            cents.collect(), "cell long, _cv array<double>"
        )
    assigned = _assign(cents)
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "_qu",
            "cell",
            _dot(F.col("_qu"), F.col("_cv")).alias("_cos"),
        )
        .withColumn(
            "_pr",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("_cos"), F.asc("cell")
                )
            ),
        )
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "_qu", "cell")
    )
    scored = (
        probes.join(assigned, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _dot(F.col("_cu"), F.col("_qu")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    out = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    return out


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    use_lsh: bool = False,
    **lsh_kwargs,
) -> DataFrame:
    """Pairs ``(id_a, id_b, cosine)`` with cosine ≥ threshold, id_a < id_b."""
    if use_lsh:
        topk = lsh_topk(df, df, k=50, vec_col=vec_col, id_col=id_col, **lsh_kwargs)
    else:
        topk = cosine_all_pairs_topk(df, k=50, vec_col=vec_col, id_col=id_col)
    return (
        topk.filter(
            (F.col("cosine") >= threshold)
            & (F.col("query_id") < F.col("neighbor_id"))
        )
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            "cosine",
        )
        .distinct()
    )


def embedding_apply(
    embeddings: DataFrame,
    nodes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``embedding.apply.nodes`` (reference
    ``plugins/numpy/algorithms.py:71-76``: ``matrix[node2row[nodes]]``) —
    select the embedding rows for ``nodes``. The reference's matrix +
    node→row indirection collapses in Spark: the embedding TABLE is keyed by
    id, so apply = one equi-join (broadcast when the node set is small).
    Returns ``(id_col, vec_col)`` — one row per requested node present in
    the table."""
    keys = nodes.select(F.col(nodes.columns[0]).alias(id_col))
    return keys.join(embeddings.select(id_col, vec_col), id_col)
