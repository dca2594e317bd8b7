"""Similarity search over an embedding column (SURVEY §2.8).

- ann_cosine_topk: exact brute-force baseline. Query set × corpus
  with a broadcast of the (small) query side; dot products are
  left-folds over zip_with so Spark and DuckDB sum in the same order
  (bit-identical → SQL-checkable).
- ann_lsh_buckets: random-hyperplane LSH index relation (vec_id, tbl,
  bucket) on the family's shared seeded planes — pure column algebra,
  bit-identical to its DuckDB oracle via the decimal plane literals.
- ann_ivf_search: IVF with fully distributed k-means — map-only
  argmin assignment against broadcast centroids, decimal-deterministic
  centroid updates (one tiny shuffle per Lloyd round), probing via a
  broadcast join against the nprobe nearest cells.

At 100 TB: brute force is the correctness oracle at small n; LSH and
IVF are the scale paths — both turn all-pairs into bucket-local work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as Tt


from ..model import literal_df  # noqa: E402 (shared helper)
from ..model import spread_small as _spread  # noqa: E402 (shared helper)


def _dot(a, b):
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def ann_cosine_topk(emb: DataFrame, n_queries: int = 10, k: int = 10) -> DataFrame:
    """Top-k cosine neighbors for the first ``n_queries`` vectors.
    Returns (query_id, neighbor_id, cos, rank); ties broken by id."""
    from pyspark.sql import Window

    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = _spread(emb).select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    cos = _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rank").cast("bigint"))
    )


def ann_cosine_topk_sql(n_queries: int = 10, k: int = 10) -> str:
    dot = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, len(q.qv) + 1), "
        "i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE))), (acc, x) -> acc + x)"
    )
    nrm = (
        "SQRT(list_reduce(list_prepend(0.0, list_transform({v}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x))"
    )
    cos = f"({dot}) / ({nrm.format(v='q.qv')} * {nrm.format(v='c.cv')})"
    return (
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings "
        f"WHERE vec_id < {n_queries}), "
        "c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings), "
        f"scored AS (SELECT query_id, neighbor_id, {cos} AS cos "
        "FROM q JOIN c ON query_id <> neighbor_id) "
        "SELECT query_id, neighbor_id, cos, rank FROM ("
        "SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank "
        f"FROM scored) WHERE rank <= {k}"
    )


def ann_lsh_buckets(emb: DataFrame, seed: int = 42) -> DataFrame:
    """(vec_id, tbl, bucket): per-table sign-pattern bucket ids — the
    LSH index relation every bucketed ANN/dedup pass joins on.

    Same seeded planes and fold order as the dedup/ANN family
    (_lsh_signatures), so the buckets are bit-identical to the DuckDB
    oracle (ann_lsh_buckets_sql) — the assignment is pure deterministic
    column algebra: a sign is only engine-dependent if a plane dot is
    EXACTLY 0.0, impossible for continuous-valued planes/embeddings."""
    return _lsh_keys(_lsh_signatures(emb, seed=seed)).select(
        "vec_id",
        F.col("tbl").cast("long").alias("tbl"),
        F.col("bucket").cast("long").alias("bucket"),
    )


def ann_lsh_buckets_sql(seed: int = 42) -> str:
    return (
        f"WITH s AS ({_lsh_sig_sql(seed)}) "
        "SELECT vec_id, CAST(tbl AS BIGINT) AS tbl, "
        f"CAST(bucket AS BIGINT) AS bucket FROM ({_lsh_keys_sql()})"
    )


def _kmeans_parallel_init(
    emb: DataFrame,
    k: int,
    seed: int,
    rounds: int = 3,
    oversample: int | None = None,
) -> list[list[float]]:
    """k-means|| seeding (Bahmani et al., VLDB'12), fully
    deterministic and partition-order-free — replaces the plain
    k-hash-ranked-row seed so the Lloyd fit starts near the data's
    real mass instead of k arbitrary points.

    Distributed part (per round, all map-side against a broadcast
    candidate array): d²(x, C) per vector; φ = Σd² accumulated in
    DECIMAL(38,12) (order-free, one scalar row); each vector then
    SELECTS ITSELF with probability min(1, l·d²/φ) using a seeded
    md5-hash uniform u(x) ∈ [0,1) in place of an RNG — per-row
    deterministic, so any partitioning selects the same candidates.
    Driver part: candidates (≈ l·rounds rows, KBs) are weighted by
    nearest-vector counts (one groupBy) and reduced to k centers with
    the deterministic greedy variant of weighted k-means++ (argmax of
    weight·d², ties → lowest candidate index).

    Driver traffic: candidate vectors + one count row per candidate —
    independent of corpus size. Returns exactly k centers (falls back
    to hash-ranked rows if the corpus is tiny and undersamples)."""
    l = oversample if oversample is not None else 2 * k
    spark = emb.sparkSession
    e = emb.select("vec_id", "embedding")

    first = (
        e.orderBy(F.md5(F.concat_ws(":", F.lit(seed), F.col("vec_id"))))
        .limit(1)
        .collect()
    )
    cands: list[list[float]] = [[float(x) for x in first[0]["embedding"]]]

    def d2min(cand_list):
        cdf = literal_df(spark, [(cand_list,)], "cents array<array<double>>")
        dists = F.transform(
            F.col("cents"),
            lambda c: F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    c,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return (
            e.crossJoin(F.broadcast(cdf))
            .withColumn("dists", dists)
            .withColumn("d2", F.array_min("dists"))
        )

    # u(x) ∈ [0,1): first 8 md5 hex chars → uniform 32-bit fraction
    def u(round_no):
        h = F.md5(F.concat_ws(":", F.lit(seed), F.lit(round_no), F.col("vec_id")))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / float(2**32)

    for r in range(rounds):
        with_d = d2min(cands)
        phi_row = with_d.agg(
            F.sum(F.col("d2").cast("decimal(38,12)")).alias("phi")
        ).collect()[0]
        phi = float(phi_row["phi"]) if phi_row["phi"] is not None else 0.0
        if phi <= 0.0:
            break  # every vector coincides with a candidate
        picked = (
            with_d.where(u(r) < F.lit(float(l)) * F.col("d2") / F.lit(phi))
            .orderBy("vec_id")
            .select("vec_id", "embedding")
            .collect()
        )
        cands.extend([float(x) for x in row["embedding"]] for row in picked)

    # weight candidates by how many vectors they are nearest to
    cdf = literal_df(spark, [(cands,)], "cents array<array<double>>")
    dists = F.transform(
        F.col("cents"),
        lambda c: F.aggregate(
            F.zip_with(
                F.col("embedding"),
                c,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    wrows = (
        e.crossJoin(F.broadcast(cdf))
        .withColumn("dists", dists)
        .select(
            (F.array_position(F.col("dists"), F.array_min(F.col("dists"))) - 1)
            .cast("int")
            .alias("cand")
        )
        .groupBy("cand")
        .count()
        .collect()
    )
    weights = [0.0] * len(cands)
    for row in wrows:
        weights[row["cand"]] = float(row["count"])

    # deterministic greedy weighted k-means++ over the candidate set
    centers = [0]  # candidate 0 = the seeded first center
    while len(centers) < min(k, len(cands)):
        best_i, best_score = -1, -1.0
        for i, c in enumerate(cands):
            if i in centers:
                continue
            d2c = min(
                sum((a - b) * (a - b) for a, b in zip(c, cands[j]))
                for j in centers
            )
            score = weights[i] * d2c
            if score > best_score:  # strict > : ties keep lowest index
                best_i, best_score = i, score
        centers.append(best_i)
    out = [cands[i] for i in centers]
    if len(out) < k:  # degenerate tiny corpus: pad with hash-ranked rows
        pad = (
            e.orderBy(F.md5(F.concat_ws(":", F.lit(seed + 1), F.col("vec_id"))))
            .limit(k - len(out))
            .collect()
        )
        out.extend([float(x) for x in r2["embedding"]] for r2 in pad)
    return out


def ann_ivf_search(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    n_iter: int = 8,
) -> DataFrame:
    """IVF with FULLY DISTRIBUTED k-means: no sample collect, no N×k
    crossJoin. Returns (query_id, neighbor_id, cos, rank).

    Fit: centroids seed via deterministic k-means||
    (_kmeans_parallel_init — distributed oversampling, driver-side
    greedy reduction; driver traffic independent of corpus size),
    then ``n_iter`` Lloyd rounds where (1) assignment is a pure map:
    centroids broadcast as one array-of-arrays row, squared distance
    per cell via fold, cell = first argmin (ties → lowest cell, the
    reference tie rule); (2) the centroid update is ONE map-side-
    combined shuffle of (cell, dim) decimal sums — 38,12-decimal
    accumulation makes the means independent of partition order, so
    replays are bit-identical on any cluster shape. Driver traffic
    per round = n_cells × dim stat rows (KBs).

    Search: corpus vectors keep their assigned cell; queries probe the
    ``nprobe`` nearest cells and the exact cosine + top-k runs inside
    probed cells only."""
    from pyspark.sql import Window

    cents = _kmeans_parallel_init(emb, n_cells, seed)
    dim = len(cents[0])
    spark = emb.sparkSession

    def with_cell(df):
        """Attach (cell, d2min) via broadcast centroid row — map-only."""
        cdf = literal_df(spark,
            [(cents,)], "cents array<array<double>>"
        )
        dists = F.transform(
            F.col("cents"),
            lambda c: F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    c,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return (
            df.crossJoin(F.broadcast(cdf))
            .withColumn("dists", dists)
            .withColumn(
                "cell",
                (
                    F.array_position(
                        F.col("dists"), F.array_min(F.col("dists"))
                    )
                    - 1
                ).cast("int"),
            )
        )

    for _ in range(n_iter):
        stats = (
            with_cell(emb.select("embedding"))
            .select("cell", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.col("v").cast("decimal(38,12)")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty cells keep position
        for r in stats:
            new_cents[r["cell"]][r["pos"]] = float(r["s"]) / r["n"]
        cents = new_cents

    corpus = with_cell(emb.select("vec_id", "embedding")).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        "cell",
    )
    probes = (
        with_cell(
            emb.select("vec_id", "embedding").where(F.col("vec_id") < n_queries)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.posexplode("dists").alias("cell2", "d"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("d").asc(), F.col("cell2").asc()
                )
            ),
        )
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qv", F.col("cell2").alias("cell"))
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
    scored = (
        F.broadcast(probes)
        .join(corpus, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos").alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rank").cast("bigint"))
    )


# --- embedding-cosine near-duplicates (SURVEY §2.8) ------------------------

DEDUP_LSH_TABLES = 4
DEDUP_LSH_PLANES = 8
EMB_DIM = 64
# dedup_embedding collects every embedding to the driver and scores all
# N² pairs; past this many rows it refuses (≈100 MB of driver rows)
DEDUP_EMBEDDING_MAX_ROWS = 50_000


def _planes(
    n_tables: int = DEDUP_LSH_TABLES,
    n_planes: int = DEDUP_LSH_PLANES,
    dim: int = EMB_DIM,
    seed: int = 42,
):
    """Seeded hyperplanes rounded to 6 decimals so the SAME decimal
    literals are baked into the Spark plan and the DuckDB oracle text —
    decimal→nearest-double is deterministic in both engines, so the
    sign tests (and therefore buckets) agree bit-for-bit."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim)).round(6).tolist()


def dedup_embedding(emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Exact embedding near-dup pairs: (vec_a, vec_b, cos) for every
    pair with cosine >= threshold. O(N²) by construction — this is the
    declared correctness baseline the LSH variant is judged against;
    at 100 TB use dedup_embedding_lsh.

    Optimization round 13 (guide §4.2, the _cov_tot precedent): the
    old shape was a BroadcastNestedLoopJoin whose per-pair cosine ran
    the 64-wide zip_with/aggregate fold INTERPRETED (higher-order
    lambdas get no codegen) for every ordered pair — 21.7 s warm at
    sf0.1 for ~2M pair evaluations, the most expensive registered
    non-streaming path. It is now the same broadcast shape through
    Arrow: the full (vec_id, embedding) relation — exactly what the
    old plan shipped as the NLJ build side — rides a task broadcast,
    and each Arrow batch of the scan scores against it in NumPy.
    BIT-EQUALITY is preserved by construction: the dot and the norm
    accumulate dimension-SEQUENTIALLY (one elementwise multiply and
    one elementwise add per dimension, vectorized over the PAIR axis)
    — the identical IEEE op sequence as the old left fold and the
    DuckDB list_reduce — and cos divides dot by (na*nb) in the same
    order. float32 inputs widen exactly; sqrt is correctly rounded in
    both engines. (An explicit 64-term codegen sum was tried in an
    earlier round and is ~2× slower than even the interpreted fold:
    the generated method blows past JIT limits.) Default threshold
    0.4 suits the synthetic corpus (max pair cos ≈ 0.51); real
    near-dup dedup runs at ≥ 0.9."""
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    spark = emb.sparkSession
    dim = EMB_DIM
    cap = DEDUP_EMBEDDING_MAX_ROWS
    rows = emb.select("vec_id", "embedding").limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"dedup_embedding collects every embedding to the driver and "
            f"takes at most {cap} rows; use dedup_embedding_lsh for larger inputs"
        )
    if not rows:
        return literal_df(spark, [], "vec_a long, vec_b long, cos double")
    import numpy as np

    ids_a = np.array([int(r["vec_id"]) for r in rows], dtype=np.int64)
    A = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
    )

    def _fold_norm(x):
        # sqrt of the dimension-sequential sum of squares — the exact
        # _norm / _NORM_SQL fold order, vectorized over rows
        acc = np.zeros(len(x))
        for i in range(dim):
            acc = acc + x[:, i] * x[:, i]
        return np.sqrt(acc)

    na = _fold_norm(A)
    bsc = spark.sparkContext.broadcast((ids_a, A, na))
    out_schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("cos", DoubleType()),
        ]
    )
    thr = float(threshold)

    def pair_cos(pdfs):
        import numpy as np
        import pandas as pd

        aid, av, an = bsc.value
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            bid = pdf["vec_id"].to_numpy().astype(np.int64)
            bv = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            accb = np.zeros(len(bid))
            dot = np.zeros((len(aid), len(bid)))
            for i in range(dim):
                accb = accb + bv[:, i] * bv[:, i]
                dot = dot + np.outer(av[:, i], bv[:, i])
            bn = np.sqrt(accb)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / np.outer(an, bn)
                mask = (aid[:, None] < bid[None, :]) & (cos >= thr)
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {"vec_a": aid[ai], "vec_b": bid[bi], "cos": cos[ai, bi]}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        pair_cos, out_schema
    )


_DOT_AB_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)
_PAIR_DOT_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)
_NORM_SQL = (
    "SQRT(list_reduce(list_prepend(0.0, list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x))"
)


def dedup_embedding_sql(threshold: float = 0.4) -> str:
    cos = f"({_DOT_AB_SQL}) / (a.nrm * b.nrm)"
    return (
        f"WITH v AS (SELECT vec_id, embedding, {_NORM_SQL} AS nrm FROM embeddings), "
        "a AS (SELECT * FROM v), b AS (SELECT * FROM v) "
        f"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cos "
        "FROM a JOIN b ON a.vec_id < b.vec_id "
        f"WHERE {cos} >= {float(threshold)!r}"
    )



def _lsh_signatures(emb: DataFrame, seed: int = 42) -> DataFrame:
    """(vec_id, embedding, nrm, t0..tN): per-table sign-pattern bucket
    ids against the seeded planes. Planes ride in as a broadcast
    1-row relation, not expression literals — 32 planes × 64 F.lit
    leaves made Catalyst analysis the dominant cold cost (~4s); same
    doubles either way (Python float → exact IEEE double in both the
    row and the oracle's text). The 32 plane dots are ONE transform()
    materialized as `dots` before the bucket projection reads it 32×
    (no CSE across expressions)."""
    planes = _planes(seed=seed)
    n_planes = len(planes[0])
    flat = [pl for table in planes for pl in table]
    planes_df = literal_df(emb.sparkSession,
        [([list(map(float, pl)) for pl in flat],)],
        "planes array<array<double>>",
    )
    dots = F.transform(
        F.col("planes"),
        lambda pl: F.aggregate(
            F.zip_with(F.col("embedding"), pl, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    d = _spread(emb).crossJoin(F.broadcast(planes_df)).select(
        "vec_id",
        "embedding",
        _norm(F.col("embedding")).alias("nrm"),
        dots.alias("dots"),
    )
    buckets = []
    for t in range(len(planes)):
        bits = None
        for i in range(n_planes):
            term = F.when(
                F.col("dots")[t * n_planes + i] > 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            bits = term if bits is None else bits + term
        buckets.append(bits.cast("int").alias(f"t{t}"))
    return d.select("vec_id", "embedding", "nrm", *buckets)


def _lsh_keys(sig: DataFrame, n_tables: int = DEDUP_LSH_TABLES) -> DataFrame:
    """Explode the signature relation to (vec_id, tbl, bucket) rows."""
    return sig.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"), F.col(f"t{t}").alias("bucket")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "tb.tbl", "tb.bucket")


def _lsh_sig_sql(seed: int = 42) -> str:
    """Mirrors _lsh_signatures: the 32 plane dots are ONE
    list_transform over a hoisted flat plane column (nested WITH, so
    this stays embeddable as a CTE body), then the sign-pattern
    buckets read dots[t*n+i]. Hoisting matters for the same reason as
    _pq_sub_sql: per-plane literals inside the lambda were rebuilt
    per element — 13-15 s per LSH oracle at sf0.001, now sub-second,
    same folds, bit-identical values."""
    planes = _planes(seed=seed)
    n_planes = len(planes[0])
    flat = [pl for table in planes for pl in table]
    lit = (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in pl) + "]" for pl in flat
        )
        + "]"
    )
    dots = (
        "list_transform(planes, pl -> "
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        "i -> CAST(embedding[i] AS DOUBLE) * pl[i])), "
        "(acc, x) -> acc + x))"
    )
    bucket_cols = []
    for t in range(len(planes)):
        bits = " + ".join(
            f"CASE WHEN dots[{t * n_planes + i + 1}] > 0 "
            f"THEN {1 << i} ELSE 0 END"
            for i in range(n_planes)
        )
        bucket_cols.append(f"CAST({bits} AS INTEGER) AS t{t}")
    return (
        f"WITH lshp AS (SELECT ({lit}) AS planes) "
        "SELECT vec_id, embedding, nrm, "
        + ", ".join(bucket_cols)
        + f" FROM (SELECT vec_id, embedding, {_NORM_SQL} AS nrm, "
        f"{dots} AS dots FROM embeddings CROSS JOIN lshp)"
    )


def _lsh_keys_sql(n_tables: int = DEDUP_LSH_TABLES) -> str:
    return " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, t{t} AS bucket FROM s"
        for t in range(n_tables)
    )


def dedup_embedding_lsh(
    emb: DataFrame, threshold: float = 0.4, seed: int = 42
) -> DataFrame:
    """Hyperplane-LSH blocked near-dup pairs — the 100 TB scale path.

    4 tables × 8 seeded hyperplanes: per table, bucket = the 8-bit
    sign pattern of the plane dots; candidate pairs only form inside a
    (table, bucket) — banding (OR across tables, AND within) turns the
    O(N²) pair space into bucket-local work on uniform 64-way keys per
    table. Recall for a pair at angle θ is 1-(1-(1-θ/π)^8)^4 ≈ 0.75
    at cos 0.9 (256 uniform buckets per table bound candidate fanout), by design low for unrelated vectors. Buckets match the
    DuckDB oracle bit-for-bit because both engines evaluate the same
    decimal plane literals in the same fold order (see _planes).

    Shape notes (measured at sf0.1): the 32 plane dots are ONE
    transform() over a single array<array<double>> literal — 24+
    separate fold expressions (64 literals each) ballooned plan
    analysis to ~4s of wall time. Candidate ids are DISTINCT'd before
    the exact cosine: a pair sharing buckets in k tables would fold
    its dot k times; distinct-first computes it once and shuffles only
    16-byte id pairs, not 64-float embeddings. The signature relation
    is persisted — it feeds the key explode and both rejoin sides."""
    sig = _lsh_signatures(emb, seed=seed).persist()  # fence: returned plan reads this cache
    keys = _lsh_keys(sig)
    cand = (
        keys.alias("a")
        .join(keys.alias("b"), ["tbl", "bucket"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    va = sig.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    vb = sig.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def dedup_embedding_lsh_sql(threshold: float = 0.4, seed: int = 42) -> str:
    sig = _lsh_sig_sql(seed)
    key_rows = _lsh_keys_sql()
    cos = f"({_PAIR_DOT_SQL}) / (na * nb)"
    return (
        f"WITH s AS ({sig}), keys AS ({key_rows}), "
        "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b "
        "FROM keys a JOIN keys b ON a.tbl = b.tbl AND a.bucket = b.bucket "
        "WHERE a.vec_id < b.vec_id), "
        "j AS (SELECT cand.vec_a, cand.vec_b, "
        "sa.embedding AS ea, sa.nrm AS na, sb.embedding AS eb, sb.nrm AS nb "
        "FROM cand JOIN s sa ON cand.vec_a = sa.vec_id "
        "JOIN s sb ON cand.vec_b = sb.vec_id) "
        f"SELECT vec_a, vec_b, {cos} AS cos FROM j "
        f"WHERE {cos} >= {float(threshold)!r}"
    )


def ann_lsh_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """End-to-end bucketed ANN: top-k cosine neighbors among corpus
    vectors sharing ≥1 (table, bucket) with the query — the scale
    path ann_cosine_topk is the exact baseline for. Same output shape
    (query_id, neighbor_id, cos, rank); a query may return < k rows
    when its buckets hold fewer candidates (the accuracy/throughput
    dial: more tables/probes ⇒ more recall). With ``multiprobe`` the
    QUERY side also probes every hamming-1 bucket (flip each of the 8
    sign bits) — the classic multiprobe trade: 9× probe keys per
    query (queries are few) instead of more tables (which would 2×
    the whole corpus index). Candidate ids are DISTINCT'd before the
    exact cosine (a neighbor sharing multiple probes folds once);
    buckets match the DuckDB oracle bit-for-bit via the shared plane
    literals."""
    from pyspark.sql import Window

    sig = _lsh_signatures(emb, seed=seed).persist()  # fence: returned plan reads this cache
    keys = _lsh_keys(sig)
    qk = keys.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    if multiprobe:
        variants = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i))
                for i in range(DEDUP_LSH_PLANES)
            ],
        )
        qk = qk.select(
            "query_id", "tbl", F.explode(variants).alias("bucket")
        )
    cand = (
        qk.join(
            keys.select(F.col("vec_id").alias("neighbor_id"), "tbl", "bucket"),
            ["tbl", "bucket"],
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = sig.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    cv = sig.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    scored = (
        cand.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rank").cast("bigint"))
    )


def ann_lsh_topk_sql(
    n_queries: int = 10, k: int = 10, seed: int = 42, multiprobe: bool = True
) -> str:
    sig = _lsh_sig_sql(seed)
    key_rows = _lsh_keys_sql()
    cos = f"({_PAIR_DOT_SQL}) / (na * nb)"
    if multiprobe:
        qk = (
            f"SELECT vec_id AS query_id, tbl, bucket FROM keys WHERE vec_id < {n_queries} "
            f"UNION ALL SELECT vec_id, tbl, xor(bucket, CAST(1 << i AS INTEGER)) "
            f"FROM keys, (SELECT UNNEST(range(0, {DEDUP_LSH_PLANES})) AS i) "
            f"WHERE vec_id < {n_queries}"
        )
    else:
        qk = f"SELECT vec_id AS query_id, tbl, bucket FROM keys WHERE vec_id < {n_queries}"
    return (
        f"WITH s AS ({sig}), keys AS ({key_rows}), qk AS ({qk}), "
        "cand AS (SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id "
        "FROM qk q JOIN keys c ON q.tbl = c.tbl AND q.bucket = c.bucket "
        "WHERE q.query_id <> c.vec_id), "
        "j AS (SELECT cand.query_id, cand.neighbor_id, "
        "sq.embedding AS ea, sq.nrm AS na, sc.embedding AS eb, sc.nrm AS nb "
        "FROM cand JOIN s sq ON cand.query_id = sq.vec_id "
        "JOIN s sc ON cand.neighbor_id = sc.vec_id), "
        f"scored AS (SELECT query_id, neighbor_id, {cos} AS cos FROM j) "
        "SELECT query_id, neighbor_id, cos, rank FROM ("
        "SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank "
        f"FROM scored) WHERE rank <= {k}"
    )


IVF_CODEBOOK_K = 16


def _ivf_codebook(k: int = IVF_CODEBOOK_K, dim: int = EMB_DIM, seed: int = 7):
    """Seeded fixed codebook, rounded to 6 decimals so the SAME
    decimal literals live in the Spark plan and the oracle text (the
    _planes trick). The codebook stands in for trained centroids in
    the hash-checked assignment query; ann_ivf_search trains its own
    centroids (k-means|| + Lloyd) and stays rows-only."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((k, dim)).round(6).tolist()


def ann_ivf_assign(emb: DataFrame, k: int = IVF_CODEBOOK_K, seed: int = 7) -> DataFrame:
    """(vec_id, cell, dist): nearest-centroid assignment against a
    broadcast codebook — the IVF building block (map-only argmin; at
    100 TB this is one scan, zero shuffle, exactly the shape of
    ann_ivf_search's assignment step). Distances are left-fold squared
    L2 sums (identical fold order in both engines); argmin ties break
    to the first index via array_position, deterministic everywhere."""
    cents = _ivf_codebook(k, seed=seed)
    cdf = literal_df(emb.sparkSession,
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )
    dists = F.transform(
        F.col("cents"),
        lambda c: F.aggregate(
            F.zip_with(
                F.col("embedding"),
                c,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    d = _spread(emb).crossJoin(F.broadcast(cdf)).select("vec_id", dists.alias("dists"))
    return d.select(
        "vec_id",
        F.array_position(F.col("dists"), F.array_min("dists"))
        .cast("bigint")
        .alias("cell"),
        F.array_min("dists").alias("dist"),
    )


def ann_ivf_assign_sql(k: int = IVF_CODEBOOK_K, seed: int = 7) -> str:
    cents = _ivf_codebook(k, seed=seed)
    return (
        f"WITH {_ivf_cents_cte(cents)}, "
        f"d AS (SELECT vec_id, {_ivf_dists_sql()} AS dists "
        "FROM embeddings CROSS JOIN ivfk) "
        "SELECT vec_id, CAST(list_position(dists, list_min(dists)) AS BIGINT) AS cell, "
        "CAST(list_min(dists) AS DOUBLE) AS dist FROM d"
    )


def ann_ivf_balance(
    emb: DataFrame, k: int = IVF_CODEBOOK_K, seed: int = 7
) -> DataFrame:
    """One-row IVF index health check: (n_vecs, n_cells, n_empty,
    max_cell, min_cell, imbalance, exp_scan_frac). Skewed inverted
    lists are THE production IVF failure at scale — a hot cell turns
    nprobe=1 into a near-linear scan for every query that lands in
    it. imbalance = max_cell/(n/k) (1.0 = perfectly balanced);
    exp_scan_frac = Σ cnt²/n² is the expected fraction of the corpus
    scanned at nprobe=1 when queries are distributed like the data —
    the number that tells you whether to re-fit or split cells.

    Scale shape: the assignment is the shared map-only broadcast
    argmin (ann_ivf_assign); per-cell counts partial-aggregate to ≤k
    rows, and the final stats fold k rows — output size is constant
    in N. Determinism: every stat is exact integer algebra; cnt²
    accumulates DECIMAL(38,0) (oracle: HUGEINT — the trend-slope
    rule: int64 sums of squared counts overflow near n=3e9) and the
    two divisions happen after the final casts, in oracle order."""
    a = ann_ivf_assign(emb, k, seed)
    cells = a.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt"))
    cd = F.col("cnt").cast("decimal(38,0)")
    return cells.agg(
        F.sum("cnt").cast("bigint").alias("n_vecs"),
        F.lit(k).cast("bigint").alias("n_cells"),
        (F.lit(k) - F.count(F.lit(1))).cast("bigint").alias("n_empty"),
        F.max("cnt").cast("bigint").alias("max_cell"),
        F.min("cnt").cast("bigint").alias("min_cell"),
        (
            F.max("cnt").cast("double") * k / F.sum("cnt").cast("double")
        ).alias("imbalance"),
        (
            F.sum(cd * cd).cast("double")
            / F.sum("cnt").cast("double")
            / F.sum("cnt").cast("double")
        ).alias("exp_scan_frac"),
    )


def ann_ivf_balance_sql(k: int = IVF_CODEBOOK_K, seed: int = 7) -> str:
    assign = ann_ivf_assign_sql(k, seed)
    return (
        f"WITH cells AS (SELECT cell, COUNT(*) AS cnt FROM ({assign}) "
        "GROUP BY cell) "
        "SELECT CAST(SUM(cnt) AS BIGINT) AS n_vecs, "
        f"CAST({k} AS BIGINT) AS n_cells, "
        f"CAST({k} - COUNT(*) AS BIGINT) AS n_empty, "
        "CAST(MAX(cnt) AS BIGINT) AS max_cell, "
        "CAST(MIN(cnt) AS BIGINT) AS min_cell, "
        f"CAST(MAX(cnt) AS DOUBLE) * {k} / CAST(SUM(cnt) AS DOUBLE) "
        "AS imbalance, "
        "CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS DOUBLE) "
        "/ CAST(SUM(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) "
        "AS exp_scan_frac "
        "FROM cells"
    )


def _sq_dists(cents_col):
    """transform(cents, c -> left-folded squared L2 to `embedding`) —
    the shared distance kernel; arrays materialized before any argmin
    (no CSE inside HOF lambdas)."""
    return F.transform(
        cents_col,
        lambda c: F.aggregate(
            F.zip_with(
                F.col("embedding"),
                c,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _lloyd_cents(a: DataFrame, keys: tuple = ("cell",)) -> DataFrame:
    """The centroid half of a Lloyd update: per-key micro6 BIGINT
    member sums (map-side combined), mean = (int64/1e6)/cnt with the
    op order the oracle mirrors. Returns (*keys, centroid).

    Shape (optimization round 12): position explodes to rows + two
    tiny-expression groupBys instead of one 65-expression agg + a
    64-expression array select — the same integer sums (BIGINT
    addition is order-free) and the identical (int64/1e6)/cnt means
    in index order, but the wide form paid ~1.4 s of per-evaluation
    planning/codegen on k-row data (A/B'd 1.8 s vs 0.55 s warm,
    bit-equal — the simhash sign-sum lesson applied to the centroid
    update). cnt folds per (key, pos) — every member emits one row
    per position, so it equals the member count."""
    pos_sums = (
        a.select(
            *keys,
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("pos", "x"),
        )
        .groupBy(*keys, "pos")
        .agg(
            F.sum(F.floor(F.col("x") * 1000000.0 + F.lit(0.5))).alias("s"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return (
        pos_sums.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "s", "cnt"))).alias("ps"))
        .select(
            *keys,
            F.transform(
                "ps", lambda t: t["s"].cast("double") / 1000000.0 / t["cnt"]
            ).alias("centroid"),
        )
    )


def _lloyd_reassign(a: DataFrame, new_cents: DataFrame) -> DataFrame:
    """The re-assignment half of a Lloyd update: collapse (cell,
    centroid) to ONE broadcast row and argmin every vector against
    it. Returns (vec_id, embedding, cell, dist)."""
    clist = new_cents.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("cell", "centroid"))).alias("cs")
    ).select(
        F.col("cs.cell").alias("cells"),
        F.col("cs.centroid").alias("cents2"),
    )
    return (
        a.select("vec_id", "embedding")
        .crossJoin(F.broadcast(clist))
        .select("vec_id", "embedding", "cells", _sq_dists(F.col("cents2")).alias("dists"))
        .select(
            "vec_id",
            "embedding",
            F.element_at(
                F.col("cells"),
                F.array_position(F.col("dists"), F.array_min("dists")).cast("int"),
            )
            .cast("bigint")
            .alias("cell"),
            F.array_min("dists").alias("dist"),
        )
    )


def _lloyd_step(a: DataFrame) -> DataFrame:
    """One Lloyd update over (vec_id, embedding, cell): recompute cell
    centroids (_lloyd_cents) and re-assign every vector against the
    new centroid list broadcast as ONE row. Returns (vec_id,
    embedding, cell, dist)."""
    return _lloyd_reassign(a, _lloyd_cents(a))


def ann_ivf_lloyd(
    emb: DataFrame, k: int = IVF_CODEBOOK_K, seed: int = 7, iters: int = 1
) -> DataFrame:
    """(vec_id, cell, dist): ``iters`` full Lloyd iterations from the
    fixed seeded codebook — assign → (recompute centroids → re-assign)
    × iters — as a SINGLE Catalyst tree, fully hash-checked
    (ann_ivf_lloyd_sql with the same ``iters``: the oracle's CTE chain
    unrolls once per iteration). The iterative ann_ivf_search keeps
    Lloyd in a convergence loop and stays rows-only; these
    fixed-iteration siblings (iters=1 round 5, iters=2 round 7) prove
    the update step composes cross-engine exactly (reference ANN
    training loop analog).

    Scale shape: assignment is map-only vs the broadcast codebook;
    each centroid update is ONE groupBy(cell) with 64 map-side-
    combined micro6 BIGINT sums (no explode — N·64 rows never
    shuffle); the k new centroids collapse to a single broadcast row
    for re-assignment. Iterations only deepen the tree linearly — the
    per-iteration shuffle stays k rows wide.
    Determinism: micro6 member sums per dimension (order-free), mean =
    (int64/1e6)/count with identical IEEE op order in DuckDB, squared
    L2 left-folds, argmin ties to the first index."""
    cents = _ivf_codebook(k, seed=seed)
    cdf = literal_df(emb.sparkSession,
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )
    a = (
        _spread(emb).crossJoin(F.broadcast(cdf))
        .select("vec_id", "embedding", _sq_dists(F.col("cents")).alias("dists"))
        .select(
            "vec_id",
            "embedding",
            F.array_position(F.col("dists"), F.array_min("dists")).alias("cell"),
        )
    )
    for _ in range(iters):
        a = _lloyd_step(a)
    return a.select("vec_id", "cell", "dist")


def ann_ivf_lloyd_sql(
    k: int = IVF_CODEBOOK_K, seed: int = 7, iters: int = 1
) -> str:
    """DuckDB twin of ann_ivf_lloyd: identical initial-codebook decimal
    literals, micro6 HUGEINT member sums cast back through the same
    (sum/1e6)/cnt op order, list-folded squared L2, first-index ties.
    The CTE chain unrolls once per iteration (sums{i} → nc{i} →
    clist{i} → d{i} → a{i+1}) — each unroll is the same update the
    iters=1 oracle already proved, composed."""
    cents = _ivf_codebook(k, seed=seed)
    dim = EMB_DIM
    sum_cols = ", ".join(
        f"SUM(CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS s{i}"
        for i in range(dim)
    )
    cent_arr = (
        "["
        + ", ".join(f"CAST(s{i} AS DOUBLE) / 1000000.0 / cnt" for i in range(dim))
        + "]"
    )
    parts = [
        _ivf_cents_cte(cents),
        f"d0 AS (SELECT vec_id, embedding, {_ivf_dists_sql()} AS dists "
        "FROM embeddings CROSS JOIN ivfk)",
        "a1 AS (SELECT vec_id, embedding, "
        "list_position(dists, list_min(dists)) AS cell FROM d0)",
    ]
    for it in range(1, iters + 1):
        prev = f"a{it}"
        diff = f"(CAST({prev}.embedding[i] AS DOUBLE) - c[i])"
        dists = (
            f"list_transform(clist{it}.cents2, c -> "
            "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
            f"i -> {diff} * {diff})), (acc, x) -> acc + x))"
        )
        parts += [
            f"sums{it} AS (SELECT cell, COUNT(*) AS cnt, {sum_cols} "
            f"FROM {prev} GROUP BY cell)",
            f"nc{it} AS (SELECT cell, {cent_arr} AS centroid FROM sums{it})",
            f"clist{it} AS (SELECT list(cell ORDER BY cell) AS cells, "
            f"list(centroid ORDER BY cell) AS cents2 FROM nc{it})",
            f"d{it} AS (SELECT {prev}.vec_id, {prev}.embedding, "
            f"clist{it}.cells, {dists} AS dists FROM {prev}, clist{it})",
            f"a{it + 1} AS (SELECT vec_id, embedding, "
            "CAST(cells[list_position(dists, list_min(dists))] AS BIGINT) AS cell, "
            f"CAST(list_min(dists) AS DOUBLE) AS dist FROM d{it})",
        ]
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT vec_id, cell, dist FROM a{iters + 1}"
    )


# --- Product quantization ---------------------------------------------------

PQ_M = 8        # subvectors per embedding
PQ_DSUB = EMB_DIM // PQ_M
PQ_KSUB = 16    # centroids per sub-codebook -> 4-bit codes


def _pq_codebooks(seed: int = 11):
    """Seeded fixed sub-codebooks (PQ_M × PQ_KSUB × PQ_DSUB), rounded
    to 6 decimals so the SAME decimal literals live in the Spark plan
    and the oracle text (the _planes / _ivf_codebook trick)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((PQ_M, PQ_KSUB, PQ_DSUB)).round(6).tolist()


def _pq_with_codes(emb: DataFrame, seed: int = 11) -> DataFrame:
    """(vec_id, embedding, c0..c{M-1}): nearest sub-centroid code per
    subvector, 1-based — map-only against the broadcast codebooks,
    distance arrays materialized before the argmin (no CSE in HOFs)."""
    cbs = _pq_codebooks(seed)
    cdf = literal_df(emb.sparkSession,
        [(cbs,)], "cbs array<array<array<double>>>"
    )
    # NOTE: a two-parameter lambda (e.g. `lambda c, s=s:`) would make
    # F.transform pass the ELEMENT INDEX as the second argument,
    # silently shadowing the captured subvector number — materialize
    # the subvector slices first and close over `s` outside the lambda.
    with_sub = _spread(emb).crossJoin(F.broadcast(cdf)).select(
        "vec_id",
        "embedding",
        "cbs",
        *[
            F.slice("embedding", s * PQ_DSUB + 1, PQ_DSUB).alias(f"sub{s}")
            for s in range(PQ_M)
        ],
    )

    def dist_col(s):
        return F.transform(
            F.col("cbs")[s],
            lambda c: F.aggregate(
                F.zip_with(
                    F.col(f"sub{s}"),
                    c,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )

    with_d = with_sub.select(
        "vec_id",
        "embedding",
        *[dist_col(s).alias(f"d{s}") for s in range(PQ_M)],
    )
    return with_d.select(
        "vec_id",
        "embedding",
        *[
            F.array_position(F.col(f"d{s}"), F.array_min(f"d{s}"))
            .cast("bigint")
            .alias(f"c{s}")
            for s in range(PQ_M)
        ],
    )


def ann_pq_encode(emb: DataFrame, seed: int = 11) -> DataFrame:
    """(vec_id, c0..c7): 4-bit-per-subvector product-quantization codes
    — the vector-compression path for 100 TB ANN (64 float32 dims →
    8 codes ≈ 64× smaller index). Map-only, zero shuffle, one codegen
    scan; codes are cross-engine exact because the sub-codebooks are
    shared decimal literals and the distance folds are left-folds."""
    return _pq_with_codes(emb, seed).drop("embedding")


def _pq_sub_sql(s: int, vec: str = "embedding", b: str | None = None) -> str:
    """DuckDB distance list for subvector s against its codebook,
    referenced through the hoisted one-row constants column ``b`` (see
    _pq_cb_cte): list_transform binds the codebook ONCE per row —
    inlining the centroid literals instead makes DuckDB rebuild them
    per list ELEMENT (measured 43-58 s per PQ oracle at sf0.001; this
    form runs in seconds, same folds, bit-identical values)."""
    b = b or f"b{s}"
    diff = f"(CAST({vec}[{s * PQ_DSUB} + i] AS DOUBLE) - c[i])"
    return (
        f"list_transform({b}, c -> "
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {PQ_DSUB + 1}), "
        f"i -> {diff} * {diff})), (acc, x) -> acc + x))"
    )


def _pq_cb_cte(seed: int = 11, name: str = "pqcb") -> str:
    """One-row CTE holding the PQ sub-codebook literals as columns
    b0..b{M-1}; consumers CROSS JOIN it so every lambda references a
    column, never a literal."""
    cbs = _pq_codebooks(seed)

    def cb_lit(s):
        return (
            "["
            + ", ".join(
                "[" + ", ".join(repr(float(x)) for x in c) + "]" for c in cbs[s]
            )
            + "]"
        )

    cols = ", ".join(f"({cb_lit(s)}) AS b{s}" for s in range(PQ_M))
    return f"{name} AS (SELECT {cols})"


def _pq_codes_cte(seed: int = 11) -> str:
    dcols = ", ".join(f"{_pq_sub_sql(s)} AS d{s}" for s in range(PQ_M))
    ccols = ", ".join(
        f"CAST(list_position(d{s}, list_min(d{s})) AS BIGINT) AS c{s}"
        for s in range(PQ_M)
    )
    return (
        f"WITH {_pq_cb_cte(seed)} "
        f"SELECT vec_id, embedding, {ccols} FROM "
        f"(SELECT vec_id, embedding, {dcols} FROM embeddings CROSS JOIN pqcb)"
    )


def ann_pq_encode_sql(seed: int = 11) -> str:
    cols = ", ".join(f"c{s}" for s in range(PQ_M))
    return f"SELECT vec_id, {cols} FROM ({_pq_codes_cte(seed)})"


def ann_pq_search(
    emb: DataFrame, n_queries: int = 10, k: int = 10, seed: int = 11
) -> DataFrame:
    """(query_id, neighbor_id, adc, exact, abs_err, rank): asymmetric
    distance computation — full-precision query vs PQ-coded corpus —
    with the EXACT squared L2 beside it, so the compression error is
    measured, not assumed. Top-k per query by ADC, ties to lower id.

    Scale shape: the corpus side carries only its 8 codes (computed in
    the same map-only scan, no join back); queries broadcast. This is
    the declared linear-ADC baseline — at 100 TB it composes with the
    IVF cell routing (ann_ivf_assign) to scan only the probed cells,
    and the per-query subvector lookup tables make ADC 16 multiplies
    per code instead of a fold (a constant-factor rewrite of the SAME
    expression, same result)."""
    from pyspark.sql import Window

    cbs = _pq_codebooks(seed)
    cdf = literal_df(emb.sparkSession,
        [(cbs,)], "cbs array<array<array<double>>>"
    )
    corpus = _pq_with_codes(emb, seed)
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # per-query ADC lookup tables — the constant-factor rewrite the
    # docstring promises: lut{s}[c] is EXACTLY sub_adc's fold for code
    # c, evaluated once per (query, sub, code) on n_queries rows
    # instead of per candidate pair; the per-pair ADC then costs 8
    # array lookups, not 8 zip_with folds (round-7 watch-item fix:
    # 2.38 s → the pair scan stops re-deriving the same 1,280 doubles
    # ~2,000×). Same folds, same sum order, bit-identical — the
    # oracle is unchanged. Subvector slices materialize BEFORE the
    # transform (CSE-in-HOF rule); `lambda c:` only — a second lambda
    # parameter would silently receive the element INDEX.
    qsub = q.crossJoin(F.broadcast(cdf)).select(
        "query_id",
        "qv",
        "cbs",
        *[
            F.slice("qv", s * PQ_DSUB + 1, PQ_DSUB).alias(f"qsub{s}")
            for s in range(PQ_M)
        ],
    )

    def lut_col(s):
        return F.transform(
            F.col("cbs")[s],
            lambda c: F.aggregate(
                F.zip_with(
                    F.col(f"qsub{s}"),
                    c,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )

    qlut = qsub.select(
        "query_id",
        "qv",
        *[lut_col(s).alias(f"lut{s}") for s in range(PQ_M)],
    )
    pairs = F.broadcast(qlut).join(
        corpus.withColumnRenamed("vec_id", "neighbor_id"),
        F.col("query_id") != F.col("neighbor_id"),
    )

    def sub_adc(s):
        return F.element_at(F.col(f"lut{s}"), F.col(f"c{s}").cast("int"))

    adc = sub_adc(0)
    for s in range(1, PQ_M):
        adc = adc + sub_adc(s)
    exact = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("embedding"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        adc.alias("adc"),
        exact.alias("exact"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc",
            "exact",
            F.abs(F.col("adc") - F.col("exact")).alias("abs_err"),
            F.col("rank").cast("bigint"),
        )
    )


def ann_pq_search_sql(n_queries: int = 10, k: int = 10, seed: int = 11) -> str:
    def sub_adc(s):
        diff = f"(CAST(qv[{s * PQ_DSUB} + i] AS DOUBLE) - b{s}[c{s}][i])"
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {PQ_DSUB + 1}), "
            f"i -> {diff} * {diff})), (acc, x) -> acc + x)"
        )

    adc = " + ".join(sub_adc(s) for s in range(PQ_M))
    exact_diff = "(CAST(qv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))"
    exact = (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> {exact_diff} * {exact_diff})), (acc, x) -> acc + x)"
    )
    return f"""
WITH {_pq_cb_cte(seed)},
codes AS ({_pq_codes_cte(seed)}),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {n_queries}),
scored AS (
  SELECT q.query_id, codes.vec_id AS neighbor_id,
         {adc} AS adc, {exact} AS exact
  FROM q CROSS JOIN pqcb
       JOIN (SELECT vec_id, embedding AS cv,
                      {", ".join(f"c{s}" for s in range(PQ_M))} FROM codes) codes
    ON q.query_id <> codes.vec_id
)
SELECT query_id, neighbor_id, adc, exact, ABS(adc - exact) AS abs_err, rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY adc ASC, neighbor_id ASC) AS rank FROM scored)
WHERE rank <= {k}
"""


def emb_label_centroids(emb: DataFrame) -> DataFrame:
    """(label, n, dim, value): per-label mean embedding, unpivoted to
    one row per (label, dimension) — the classifier-ish aggregate a
    labeled corpus needs (per-class centroids feed nearest-centroid
    classification, drift monitoring, and IVF warm starts).

    Scale shape: ONE groupBy(label) with 64 map-side-combined micro6
    BIGINT sums (no explode before the shuffle — the unpivot happens
    AFTER aggregation, on n_labels rows). Determinism: micro6 sums,
    (int64/1e6)/count division order mirrored in the oracle."""
    dim = EMB_DIM
    sums = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.floor(
                    F.col("embedding")[i].cast("double") * 1000000.0 + F.lit(0.5)
                )
            ).alias(f"s{i}")
            for i in range(dim)
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("bigint").alias("dim"),
                (F.col(f"s{i}").cast("double") / 1000000.0 / F.col("n")).alias(
                    "value"
                ),
            )
            for i in range(dim)
        ]
    )
    return (
        sums.select(
            F.col("label").cast("bigint").alias("label"),
            F.col("n").cast("bigint").alias("n"),
            F.explode(pairs).alias("p"),
        )
        .select("label", "n", F.col("p.dim").alias("dim"), F.col("p.value").alias("value"))
    )


def emb_label_centroids_sql() -> str:
    dim = EMB_DIM
    sum_cols = ", ".join(
        f"SUM(CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS s{i}"
        for i in range(dim)
    )
    vals = ", ".join(
        f"CAST(s{i} AS DOUBLE) / 1000000.0 / n" for i in range(dim)
    )
    return f"""
WITH sums AS (SELECT label, COUNT(*) AS n, {sum_cols}
              FROM embeddings GROUP BY label)
SELECT CAST(label AS BIGINT) AS label, CAST(n AS BIGINT) AS n,
       CAST(u.i AS BIGINT) AS dim, ([{vals}])[u.i] AS value
FROM sums CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) u
"""


def _ivf_cents_cte(cents, name: str = "ivfk") -> str:
    """One-row CTE holding the IVF centroid literals as a single
    nested-list column ``cs``; consumers CROSS JOIN it (see
    _pq_sub_sql's docstring for why hoisting matters: inlined
    literals are rebuilt per list element — 12-28 s per IVF oracle at
    sf0.001)."""
    lit = (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in c) + "]" for c in cents
        )
        + "]"
    )
    return f"{name} AS (SELECT ({lit}) AS cs)"


def _ivf_dists_sql(vec: str = "embedding", cs: str = "cs") -> str:
    """DuckDB distance list of ``vec`` against the hoisted centroid
    column (_ivf_cents_cte) — the same element order and left-fold as
    the literal form, exactly Spark's transform(cents, ...)."""
    diff = f"(CAST({vec}[i] AS DOUBLE) - c[i])"
    return (
        f"list_transform({cs}, c -> "
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        f"i -> {diff} * {diff})), (acc, x) -> acc + x))"
    )


def ann_ivf_pq_search(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    nprobe: int = 4,
    seed: int = 7,
    pq_seed: int = 11,
) -> DataFrame:
    """(query_id, neighbor_id, adc, rank): the composed 100 TB ANN
    path — IVF cell routing × product-quantized storage — as ONE
    Catalyst tree, fully hash-checked. Each query probes its nprobe
    nearest IVF cells (fixed codebook, ann_ivf_assign's argmin) and
    runs the PQ asymmetric-distance top-k ONLY over vectors in those
    cells: at 16 cells and nprobe=4 the scan touches ~1/4 of the
    corpus, and the corpus side carries 8 codes per vector instead of
    64 floats — both dials (nprobe, code width) tune recall vs cost
    independently (ann_lsh_recall / ann_pq_search measure them).

    Scale shape: corpus cells + codes come from one map-only scan (no
    join back); the tiny probe relation (n_queries × nprobe rows)
    broadcasts into the cell-bucketed join — never a cartesian.
    Determinism: probe ranking is a window ordered by (dist, cell)
    on identical doubles; ADC folds as in ann_pq_search."""
    from pyspark.sql import Window

    cents = _ivf_codebook(seed=seed)
    ivf_cdf = literal_df(emb.sparkSession,
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )
    pq_cdf = literal_df(emb.sparkSession,
        [(_pq_codebooks(pq_seed),)], "cbs array<array<array<double>>>"
    )

    def ivf_dists(vec: str):
        return F.transform(
            F.col("cents"),
            lambda c: F.aggregate(
                F.zip_with(
                    F.col(vec),
                    c,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )

    codes = _pq_with_codes(emb, pq_seed)
    corp = (
        codes.crossJoin(F.broadcast(ivf_cdf))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            *[f"c{s}" for s in range(PQ_M)],
            ivf_dists("embedding").alias("dists"),
        )
        .select(
            "neighbor_id",
            *[f"c{s}" for s in range(PQ_M)],
            F.array_position(F.col("dists"), F.array_min("dists"))
            .cast("bigint")
            .alias("cell"),
        )
    )
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    qd = (
        q.crossJoin(F.broadcast(ivf_cdf))
        .select("query_id", "qv", ivf_dists("qv").alias("dists"))
        .select("query_id", "qv", F.posexplode("dists").alias("pos", "dist"))
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("pos").asc()
    )
    probes = (
        qd.withColumn("prank", F.row_number().over(wp))
        .where(F.col("prank") <= nprobe)
        .select("query_id", "qv", (F.col("pos") + 1).cast("bigint").alias("cell"))
    )
    pairs = (
        F.broadcast(probes)
        .join(corp, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .crossJoin(F.broadcast(pq_cdf))
    )

    def sub_adc(s):
        cent = F.element_at(F.col("cbs")[s], F.col(f"c{s}").cast("int"))
        return F.aggregate(
            F.zip_with(
                F.slice("qv", s * PQ_DSUB + 1, PQ_DSUB),
                cent,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    adc = sub_adc(0)
    for s in range(1, PQ_M):
        adc = adc + sub_adc(s)
    scored = pairs.select("query_id", "neighbor_id", adc.alias("adc"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", F.col("rank").cast("bigint"))
    )


def ann_ivf_pq_search_sql(
    n_queries: int = 10,
    k: int = 10,
    nprobe: int = 4,
    seed: int = 7,
    pq_seed: int = 11,
) -> str:
    cents = _ivf_codebook(seed=seed)

    def sub_adc(s):
        diff = f"(CAST(qv[{s * PQ_DSUB} + i] AS DOUBLE) - b{s}[c{s}][i])"
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {PQ_DSUB + 1}), "
            f"i -> {diff} * {diff})), (acc, x) -> acc + x)"
        )

    adc = " + ".join(sub_adc(s) for s in range(PQ_M))
    ccols = ", ".join(f"c{s}" for s in range(PQ_M))
    return f"""
WITH {_ivf_cents_cte(cents)},
{_pq_cb_cte(pq_seed)},
codes AS ({_pq_codes_cte(pq_seed)}),
cv AS (SELECT vec_id, {_ivf_dists_sql()} AS dists
       FROM embeddings CROSS JOIN ivfk),
corp AS (
  SELECT codes.vec_id AS neighbor_id, {ccols},
         CAST(list_position(cv.dists, list_min(cv.dists)) AS BIGINT) AS cell
  FROM codes JOIN cv ON cv.vec_id = codes.vec_id
),
q AS (SELECT vec_id AS query_id, embedding AS qv,
             {_ivf_dists_sql()} AS dists
      FROM embeddings CROSS JOIN ivfk WHERE vec_id < {n_queries}),
qc AS (
  SELECT query_id, qv, u.i AS pos1, dists[u.i] AS dist
  FROM q CROSS JOIN (SELECT unnest(range(1, {IVF_CODEBOOK_K + 1})) AS i) u
),
probes AS (
  SELECT query_id, qv, CAST(pos1 AS BIGINT) AS cell
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY dist ASC, pos1 ASC) AS prank FROM qc)
  WHERE prank <= {nprobe}
),
scored AS (
  SELECT p.query_id, corp.neighbor_id, {adc} AS adc
  FROM probes p CROSS JOIN pqcb JOIN corp ON corp.cell = p.cell
  WHERE p.query_id <> corp.neighbor_id
)
SELECT query_id, neighbor_id, adc, rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY adc ASC, neighbor_id ASC) AS rank FROM scored)
WHERE rank <= {k}
"""


def ann_ivfadc_search(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    nprobe: int = 4,
    seed: int = 7,
    pq_seed: int = 11,
) -> DataFrame:
    """(query_id, neighbor_id, adc, exact, abs_err, rank): IVFADC with
    RESIDUAL encoding — the published construction (Jégou et al.,
    'Product Quantization for Nearest Neighbor Search', §IV): each
    corpus vector stores PQ codes of its residual to the assigned IVF
    centroid (r = x − c_cell), and a query builds a DIFFERENT residual
    per probed cell (qr = q − c_cell) before the asymmetric-distance
    fold. ann_ivf_pq_search composes the same two indexes but encodes
    raw vectors; residual encoding is what makes the composition an
    index rather than two stacked filters — when data clusters around
    the coarse centroids, residuals are small and the 8-code ADC
    becomes sharply more accurate (asserted in pytest on a clustered
    fixture vs the raw-PQ error). The ``exact`` column is the
    measurement instrument (full-precision L2 beside the estimate, as
    in ann_pq_search); a production scan would drop it and the raw
    embedding it rides on.

    Scale shape: identical to ann_ivf_pq_search — cell + residual
    codes from one map-only scan against broadcast codebooks, the tiny
    probe relation broadcasts into the cell-bucketed join, never a
    cartesian, and the index side of the corpus carries 8 codes + a
    cell id. Determinism: residuals are float→double subtractions of
    shared decimal literals (exact IEEE, same op in DuckDB), distance
    folds are left-folds, residual arrays and query residuals are
    MATERIALIZED as columns before any HOF consumes them (the CSE
    rule), ties to lower ids."""
    from pyspark.sql import Window

    cents = _ivf_codebook(seed=seed)
    ivf_cdf = literal_df(emb.sparkSession,
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )
    pq_cdf = literal_df(emb.sparkSession,
        [(_pq_codebooks(pq_seed),)], "cbs array<array<array<double>>>"
    )

    def ivf_dists(vec: str):
        return F.transform(
            F.col("cents"),
            lambda c: F.aggregate(
                F.zip_with(
                    F.col(vec),
                    c,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )

    asg = (
        _spread(emb).crossJoin(F.broadcast(ivf_cdf))
        .select("vec_id", "embedding", "cents",
                ivf_dists("embedding").alias("dists"))
        .select(
            "vec_id",
            "embedding",
            "cents",
            F.array_position(F.col("dists"), F.array_min("dists"))
            .cast("int")
            .alias("cell"),
        )
    )
    res = asg.select(
        "vec_id",
        "embedding",
        "cell",
        F.zip_with(
            "embedding",
            F.element_at(F.col("cents"), F.col("cell")),
            lambda x, y: x.cast("double") - y,
        ).alias("r"),
    )
    subs = res.crossJoin(F.broadcast(pq_cdf)).select(
        "vec_id",
        "embedding",
        "cell",
        "cbs",
        *[
            F.slice("r", s * PQ_DSUB + 1, PQ_DSUB).alias(f"sub{s}")
            for s in range(PQ_M)
        ],
    )

    def dist_col(s):
        return F.transform(
            F.col("cbs")[s],
            lambda c: F.aggregate(
                F.zip_with(
                    F.col(f"sub{s}"),
                    c,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )

    withd = subs.select(
        "vec_id",
        "embedding",
        "cell",
        *[dist_col(s).alias(f"d{s}") for s in range(PQ_M)],
    )
    corp = withd.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("cell").cast("bigint").alias("cell"),
        *[
            F.array_position(F.col(f"d{s}"), F.array_min(f"d{s}"))
            .cast("bigint")
            .alias(f"c{s}")
            for s in range(PQ_M)
        ],
    )
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    qd = (
        q.crossJoin(F.broadcast(ivf_cdf))
        .select("query_id", "qv", "cents", ivf_dists("qv").alias("dists"))
        .select(
            "query_id", "qv", "cents",
            F.posexplode("dists").alias("pos", "dist"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("pos").asc()
    )
    # per-probed-cell query residual, computed ONCE on the tiny probe
    # relation (n_queries × nprobe rows) BEFORE the cell join — not
    # per candidate pair: the centroid literal then never appears in
    # the per-pair expression (the first cut inlined it 16× there and
    # the oracle ran 390 s at sf0.001; this shape runs in seconds and
    # is also what you'd broadcast at 100 TB)
    probes = (
        qd.withColumn("prank", F.row_number().over(wp))
        .where(F.col("prank") <= nprobe)
        .select(
            "query_id",
            "qv",
            (F.col("pos") + 1).cast("bigint").alias("cell"),
            F.zip_with(
                "qv",
                F.element_at(F.col("cents"), (F.col("pos") + 1).cast("int")),
                lambda x, y: x.cast("double") - y,
            ).alias("qr"),
        )
    )
    with_qr = (
        F.broadcast(probes)
        .join(corp, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .crossJoin(F.broadcast(pq_cdf))
        .select(
            "query_id",
            "neighbor_id",
            "qv",
            "cv",
            "cbs",
            *[f"c{s}" for s in range(PQ_M)],
            "qr",
        )
    )

    def sub_adc(s):
        cent = F.element_at(F.col("cbs")[s], F.col(f"c{s}").cast("int"))
        return F.aggregate(
            F.zip_with(
                F.slice("qr", s * PQ_DSUB + 1, PQ_DSUB),
                cent,
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    adc = sub_adc(0)
    for s in range(1, PQ_M):
        adc = adc + sub_adc(s)
    exact = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("cv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = with_qr.select(
        "query_id", "neighbor_id", adc.alias("adc"), exact.alias("exact")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc",
            "exact",
            F.abs(F.col("adc") - F.col("exact")).alias("abs_err"),
            F.col("rank").cast("bigint"),
        )
    )


def ann_ivfadc_search_sql(
    n_queries: int = 10,
    k: int = 10,
    nprobe: int = 4,
    seed: int = 7,
    pq_seed: int = 11,
) -> str:
    """DuckDB twin of ann_ivfadc_search: same centroid/codebook decimal
    literals, residual lists built with the same float→double
    subtraction, same left-folds and tie orders; the per-probed-cell
    query residual indexes the centroid literal by p.cell exactly as
    Spark's element_at does."""
    cents = _ivf_codebook(seed=seed)
    dcols = ", ".join(f"{_pq_sub_sql(s, vec='r')} AS d{s}" for s in range(PQ_M))
    ccols = ", ".join(
        f"CAST(list_position(d{s}, list_min(d{s})) AS BIGINT) AS c{s}"
        for s in range(PQ_M)
    )

    def sub_adc(s):
        diff = f"(qr[{s * PQ_DSUB} + i] - b{s}[c{s}][i])"
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {PQ_DSUB + 1}), "
            f"i -> {diff} * {diff})), (acc, x) -> acc + x)"
        )

    adc = " + ".join(sub_adc(s) for s in range(PQ_M))
    exact_diff = "(CAST(qv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))"
    exact = (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> {exact_diff} * {exact_diff})), (acc, x) -> acc + x)"
    )
    return f"""
WITH {_ivf_cents_cte(cents)},
{_pq_cb_cte(pq_seed)},
asg AS (
  SELECT vec_id, embedding, cs, list_position(d, list_min(d)) AS cell
  FROM (SELECT vec_id, embedding, cs, {_ivf_dists_sql()} AS d
        FROM embeddings CROSS JOIN ivfk)
),
res AS (
  SELECT vec_id, embedding, cell,
         list_transform(range(1, {EMB_DIM + 1}),
           i -> CAST(embedding[i] AS DOUBLE) - cs[cell][i]) AS r
  FROM asg
),
codes AS (
  SELECT vec_id, embedding, cell, {ccols}
  FROM (SELECT vec_id, embedding, cell, {dcols}
        FROM res CROSS JOIN pqcb)
),
q AS (SELECT vec_id AS query_id, embedding AS qv,
             {_ivf_dists_sql()} AS dists
      FROM embeddings CROSS JOIN ivfk WHERE vec_id < {n_queries}),
qc AS (
  SELECT query_id, qv, u.i AS pos1, dists[u.i] AS dist
  FROM q CROSS JOIN (SELECT unnest(range(1, {IVF_CODEBOOK_K + 1})) AS i) u
),
probes AS (
  SELECT query_id, qv, CAST(pos1 AS BIGINT) AS cell,
         list_transform(range(1, {EMB_DIM + 1}),
           i -> CAST(qv[i] AS DOUBLE) - cs[pos1][i]) AS qr
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY dist ASC, pos1 ASC) AS prank FROM qc) CROSS JOIN ivfk
  WHERE prank <= {nprobe}
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id, {adc} AS adc, {exact} AS exact
  FROM probes p CROSS JOIN pqcb
       JOIN (SELECT vec_id, embedding AS cv, cell,
                             {", ".join(f"c{s}" for s in range(PQ_M))}
                      FROM codes) c
    ON c.cell = p.cell
  WHERE p.query_id <> c.vec_id
)
SELECT query_id, neighbor_id, adc, exact, ABS(adc - exact) AS abs_err, rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY adc ASC, neighbor_id ASC) AS rank FROM scored)
WHERE rank <= {k}
"""


def ann_lsh_recall(emb: DataFrame, n_queries: int = 10, k: int = 10) -> DataFrame:
    """(query_id, n_hits, recall): recall@k of the bucketed LSH path
    against the exact brute-force baseline — the accuracy half of the
    accuracy/throughput dial every approximate index must report.
    Pure relational composition of two already-deterministic top-k
    relations (bit-identical cos → identical ranks in both engines),
    so the measurement itself is hash-checkable."""
    exact = ann_cosine_topk(emb, n_queries, k).select("query_id", "neighbor_id")
    approx = ann_lsh_topk(emb, n_queries, k).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)).cast("double") / float(k)).alias(
                "recall"
            ),
        )
    )


def ann_lsh_recall_sql(n_queries: int = 10, k: int = 10) -> str:
    return (
        f"WITH exact AS (SELECT query_id, neighbor_id FROM ({ann_cosine_topk_sql(n_queries, k)})), "
        f"approx AS (SELECT query_id, neighbor_id FROM ({ann_lsh_topk_sql(n_queries, k)})), "
        "hits AS (SELECT exact.query_id, COUNT(*) AS n_hits FROM exact "
        "JOIN approx ON exact.query_id = approx.query_id "
        "AND exact.neighbor_id = approx.neighbor_id GROUP BY exact.query_id) "
        "SELECT q.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits, "
        f"CAST(COALESCE(n_hits, 0) AS DOUBLE) / {float(k)!r} AS recall "
        "FROM (SELECT DISTINCT query_id FROM exact) q "
        "LEFT JOIN hits ON q.query_id = hits.query_id"
    )


def dedup_embedding_cluster(
    emb: DataFrame, threshold: float = 0.4, seed: int = 42
) -> DataFrame:
    """Semantic dedup END-TO-END: LSH near-dup pairs → connected
    components → keeper per cluster, as (vec_id, root_id, is_keeper).

    This is the embedding-side twin of dedup_components (text
    minhash): SemDeDup-style pipelines keep one representative per
    near-duplicate embedding cluster, and transitive closure is what
    turns the pair relation into that decision (A≈B, B≈C must dedup
    A,C together even when their direct cosine is below threshold).
    The keeper rule is the cluster-min vec_id — deterministic, no
    centroid fit needed.

    100 TB: pairs come from the bucketed LSH path (never all-pairs);
    the component labeling is the shared propagate_components engine —
    min-label + pointer doubling on the uniform id key with the
    size-gated driver union-find shortcut for pair lists under 10M
    edges (the gate counts EDGES, never the corpus)."""
    from .dedup import propagate_components

    pairs = dedup_embedding_lsh(emb, threshold=threshold, seed=seed)
    lab = propagate_components(
        emb.select(F.col("vec_id").alias("doc_id")),
        pairs.select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        ),
    )
    return lab.select(
        F.col("doc_id").alias("vec_id"),
        F.col("root_id"),
        (F.col("doc_id") == F.col("root_id")).alias("is_keeper"),
    )


def dedup_embedding_cluster_sql(threshold: float = 0.4, seed: int = 42) -> str:
    lsh = dedup_embedding_lsh_sql(threshold, seed)
    return (
        "WITH RECURSIVE "
        f"p AS (SELECT vec_a, vec_b FROM ({lsh})), "
        "nodes AS (SELECT DISTINCT vec_id FROM embeddings), "
        "edges AS (SELECT vec_a AS a, vec_b AS b FROM p "
        "UNION SELECT vec_b, vec_a FROM p), "
        "reach AS (SELECT vec_id AS a, vec_id AS b FROM nodes "
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a) "
        "SELECT a AS vec_id, CAST(MIN(b) AS BIGINT) AS root_id, "
        "a = CAST(MIN(b) AS BIGINT) AS is_keeper FROM reach GROUP BY a"
    )


def emb_covariance(emb: DataFrame) -> DataFrame:
    """(i, j, cov) for i <= j: the 64x64 embedding covariance matrix —
    the distributed-linear-algebra primitive feeding PCA / whitening /
    Mahalanobis outlier scoring at corpus scale.

    Spark-first: each row explodes into its 2080 upper-triangle
    (i, j, xi*xj) terms and ONE groupBy(i, j) sums them — partial
    aggregation combines map-side immediately, so the network carries
    2080 rows per partition, never the exploded relation; the 64 mean
    terms come from one posexplode aggregation and re-enter as a
    broadcast join. All product/global sums are DECIMAL(38,6) per the
    squared-sums rule (unbounded corpus -> micro6's int64 bound does
    not hold), cast to double BEFORE the divisions, in the same order
    as the oracle. The elements array is materialized BEFORE the
    nested transform (no CSE inside HOF lambdas) and all lambdas are
    single-parameter (the two-param form receives the element INDEX).
    A Pandas-UDF per-partition outer-product (numpy) would cut the
    explode constant ~10x at the cost of leaving codegen; this is the
    declarative baseline and the shuffle shape is already optimal."""
    from ..model import dec6

    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select(vd.alias("vd"))
    pair_terms = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(EMB_DIM)),
            lambda i: F.transform(
                F.sequence(i, F.lit(EMB_DIM)),
                lambda j: F.struct(
                    i.cast("int").alias("i"),
                    j.cast("int").alias("j"),
                    (
                        F.element_at(F.col("vd"), i)
                        * F.element_at(F.col("vd"), j)
                    ).alias("p"),
                ),
            ),
        )
    )
    sums = (
        e.select(F.explode(pair_terms).alias("pt"))
        .select("pt.i", "pt.j", "pt.p")
        .groupBy("i", "j")
        .agg(F.sum(dec6(F.col("p"))).alias("s"), F.count("*").alias("n"))
    )
    means = (
        e.select(F.posexplode("vd").alias("pos", "x"))
        .groupBy((F.col("pos") + 1).cast("int").alias("mi"))
        .agg(
            (F.sum(dec6(F.col("x"))).cast("double") / F.count("*")).alias("m")
        )
    )
    m1 = F.broadcast(means.select(F.col("mi").alias("i1"), F.col("m").alias("m_i")))
    m2 = F.broadcast(means.select(F.col("mi").alias("j2"), F.col("m").alias("m_j")))
    return (
        sums.join(m1, F.col("i") == F.col("i1"))
        .join(m2, F.col("j") == F.col("j2"))
        .select(
            "i", "j",
            (
                F.col("s").cast("double") / F.col("n")
                - F.col("m_i") * F.col("m_j")
            ).alias("cov"),
        )
    )


def emb_covariance_sql() -> str:
    from ..model import dec6_sql

    return f"""
WITH v AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
), pairs AS (
  SELECT CAST(r1.i AS INTEGER) AS i, CAST(r2.j AS INTEGER) AS j,
    vd[CAST(r1.i AS INTEGER)] * vd[CAST(r2.j AS INTEGER)] AS p
  FROM v, range(1, {EMB_DIM + 1}) r1(i), range(1, {EMB_DIM + 1}) r2(j)
  WHERE r2.j >= r1.i
), sums AS (
  SELECT i, j, SUM({dec6_sql("p")}) AS s, COUNT(*) AS n
  FROM pairs GROUP BY i, j
), means AS (
  SELECT CAST(r.i AS INTEGER) AS mi,
    CAST(SUM({dec6_sql("vd[CAST(r.i AS INTEGER)]")}) AS DOUBLE) / COUNT(*) AS m
  FROM v, range(1, {EMB_DIM + 1}) r(i) GROUP BY r.i
)
SELECT i, j, CAST(s AS DOUBLE) / n - m1.m * m2.m AS cov
FROM sums JOIN means m1 ON sums.i = m1.mi JOIN means m2 ON sums.j = m2.mi
"""


def _cov_tot(emb: DataFrame) -> DataFrame:
    """The Arrow partial-sum relation under emb_covariance: per-
    partition numpy outer products replace the 2080x row explode —
    each Arrow batch contributes ONE (64x64 int64, count, 64 int64)
    partial, so the shuffle carries a few thousand rows total and the
    JVM never materializes the pair relation. Returns the aggregated
    (i, j, sd, n) sums — j = -1 rows are the per-dimension mean
    markers — BIT-EQUAL inputs to the declarative baseline's sums
    (pinned via emb_covariance_np in tests/test_pipeline_similarity)
    because both paths sum the identical per-row quantized integers
    floor(xi*xj*1e6+0.5) — int64 partials here, dec6 rows there —
    and exact sums are associative; the final /1e6 happens in decimal
    so the double cast rounds once, identically. This is the
    documented trade: leave codegen ONLY when the constant factor
    wins, and prove equality when you do."""
    import pandas as pd  # noqa: F401

    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    dim = EMB_DIM
    out_schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("j", IntegerType()),
            StructField("s", LongType()),
            StructField("n", LongType()),
        ]
    )

    def partials(pdfs):
        import numpy as np
        import pandas as pd

        iu = np.triu_indices(dim)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            prods = np.einsum("ri,rj->rij", x, x)
            q = np.floor(prods * 1000000.0 + 0.5).astype(np.int64).sum(axis=0)
            qm = np.floor(x * 1000000.0 + 0.5).astype(np.int64).sum(axis=0)
            n = len(pdf)
            rows = {
                "i": (iu[0] + 1).astype(np.int32),
                "j": (iu[1] + 1).astype(np.int32),
                "s": q[iu],
                "n": np.full(len(iu[0]), n, dtype=np.int64),
            }
            means = {
                "i": np.arange(1, dim + 1, dtype=np.int32),
                "j": np.full(dim, -1, dtype=np.int32),  # mean marker
                "s": qm,
                "n": np.full(dim, n, dtype=np.int64),
            }
            yield pd.concat(
                [pd.DataFrame(rows), pd.DataFrame(means)], ignore_index=True
            )

    part = emb.select("embedding").mapInPandas(partials, out_schema)
    # exact int64 partials -> decimal total -> /1e6 in decimal (exact:
    # the quotient has <= 6 decimals) -> the single double cast rounds
    # once, exactly like the dec6 row-sum path
    tot = part.groupBy("i", "j").agg(
        (
            F.sum(F.col("s").cast("decimal(38,6)")) / F.lit(1000000)
        ).alias("sd"),
        F.sum("n").alias("n"),
    )
    return tot


def emb_covariance_np(emb: DataFrame) -> DataFrame:
    """See _cov_tot — this keeps the registered relational output
    (i, j, cov upper triangle) by joining the mean rows back in, the
    exact plan shape the bit-equality pytest pins."""
    tot = _cov_tot(emb)
    means = tot.where(F.col("j") == -1).select(
        F.col("i").alias("mi"),
        (F.col("sd").cast("double") / F.col("n")).alias("m"),
    )
    m1 = F.broadcast(means.select(F.col("mi").alias("i1"), F.col("m").alias("m_i")))
    m2 = F.broadcast(means.select(F.col("mi").alias("j2"), F.col("m").alias("m_j")))
    return (
        tot.where(F.col("j") > 0)
        .join(m1, F.col("i") == F.col("i1"))
        .join(m2, F.col("j") == F.col("j2"))
        .select(
            "i", "j",
            (
                F.col("sd").cast("double") / F.col("n")
                - F.col("m_i") * F.col("m_j")
            ).alias("cov"),
        )
    )


def emb_norm_outliers(emb: DataFrame, k: float = 3.0) -> DataFrame:
    """Embedding QA gate: (vec_id, n_dims, nrm, z, is_outlier) — the
    sanity pass that runs BEFORE any ANN / semantic-dedup step. Flags
    vectors whose L2 norm sits more than ``k`` corpus standard
    deviations from the mean (truncated, zeroed, or exploded vectors
    all surface here), and carries the dimensionality so wrong-width
    rows are visible in the same relation.

    Scale shape: one map-only pass computes each norm (array fold, no
    shuffle), one global aggregate produces the 2-value stats row that
    re-enters as a broadcast nested-loop join (the tpch_q11 scalar
    pattern) — the corpus is scanned twice, shuffled never.

    Determinism: the squared-sum fold runs in array order (identical
    in DuckDB's list_reduce); sqrt is IEEE-correctly-rounded so the
    raw norm is bit-identical; norms are micro6-quantized BEFORE the
    mean/variance sums (micro6 int64 for the mean, dec6 for the
    squared terms per the unbounded/squared-sums rule), and z rounds
    at 6."""
    from ..model import dec6, micro6, r6

    nq = F.floor(_norm(F.col("embedding")) * 1000000.0 + F.lit(0.5)) / 1000000.0
    base = emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("n_dims"),
        nq.alias("nrm"),
    )
    stats = base.agg(
        (F.sum(micro6(F.col("nrm"))).cast("double") / 1000000.0 / F.count("*")).alias("mean_n"),
        (F.sum(dec6(F.col("nrm") * F.col("nrm"))).cast("double") / F.count("*")).alias("msq"),
    ).select(
        "mean_n",
        F.sqrt(F.col("msq") - F.col("mean_n") * F.col("mean_n")).alias("std_n"),
    )
    z = F.when(
        F.col("std_n") > 0.0, r6((F.col("nrm") - F.col("mean_n")) / F.col("std_n"))
    ).otherwise(F.lit(0.0))
    return (
        base.join(F.broadcast(stats))
        .select(
            "vec_id",
            "n_dims",
            "nrm",
            z.alias("z"),
            (F.abs(z) > float(k)).alias("is_outlier"),
        )
    )


def emb_norm_outliers_sql(k: float = 3.0) -> str:
    from ..model import dec6_sql, micro6_sql

    nrm = (
        "FLOOR(sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) "
        "* 1000000.0 + 0.5) / 1000000.0"
    )
    z = "CASE WHEN std_n > 0.0 THEN ROUND((nrm - mean_n) / std_n, 6) ELSE 0.0 END"
    return f"""
WITH b AS (
  SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims, {nrm} AS nrm
  FROM embeddings
),
s AS (
  SELECT CAST(SUM({micro6_sql('nrm')}) AS DOUBLE) / 1000000.0 / COUNT(*) AS mean_n,
         sqrt(CAST(SUM({dec6_sql('nrm * nrm')}) AS DOUBLE) / COUNT(*)
              - (CAST(SUM({micro6_sql('nrm')}) AS DOUBLE) / 1000000.0 / COUNT(*))
                * (CAST(SUM({micro6_sql('nrm')}) AS DOUBLE) / 1000000.0 / COUNT(*))) AS std_n
  FROM b
)
SELECT vec_id, n_dims, nrm, {z} AS z, abs({z}) > {float(k)} AS is_outlier
FROM b CROSS JOIN s
"""


def emb_int8_quantize(emb: DataFrame) -> DataFrame:
    """(vec_id, l2sq_err, max_sq_err, nnz_codes): symmetric per-dim
    int8 scalar quantization — the OTHER standard 100 TB embedding
    compressor beside PQ (ann_pq_encode): 4 B/float → 1 B/code at a
    reconstruction error this query measures per vector. scale_j =
    max|x_j|/127 over the corpus, code = floor(x/scale + 0.5) — with
    max-abs scaling |x/scale| ≤ 127 by construction, so the clamp
    branch is structurally dead and omitted (documented in place of a
    clipped-count column that would always read 0).

    Scale shape: ONE global aggregate (64 map-side-combined MAX
    columns — the emb_label_centroids unroll, bounded by d not N)
    produces the one scales row that re-enters as a broadcast
    nested-loop join; the code/reconstruction/error pass is map-only
    column algebra. Determinism: each zip_with stage materializes as
    its own column (the no-CSE-in-HOF rule), error folds run in array
    index order (mirrored by DuckDB list_reduce), and every op is
    + * / floor — no libm, no rounding needed."""
    dim = EMB_DIM
    scales_row = emb.agg(
        *[
            F.max(F.abs(F.col("embedding")[i].cast("double"))).alias(f"m{i}")
            for i in range(dim)
        ]
    ).select(
        F.array(*[(F.col(f"m{i}") / 127.0) for i in range(dim)]).alias("scales")
    )
    codes = F.zip_with(
        F.col("embedding"),
        F.col("scales"),
        lambda x, s: F.when(
            s > 0.0, F.floor(x.cast("double") / s + F.lit(0.5))
        ).otherwise(F.lit(0).cast("bigint")),
    )
    recon = F.zip_with(
        F.col("codes"), F.col("scales"), lambda c, s: c.cast("double") * s
    )
    errs = F.zip_with(
        F.col("embedding"),
        F.col("recon"),
        lambda x, r: (x.cast("double") - r) * (x.cast("double") - r),
    )
    return (
        # NO scan spread (r13, fix-9 per-consumer rule): alternating
        # quiet-window A/B showed the spread flat-to-losing here
        # (spread 1.073-1.126 s vs no-spread 1.025-1.050 s at <4%
        # steal; the r12 checklist had it ~1.05-1.1x slower too) —
        # the scales_row broadcast build already materializes a pass
        # and the extra exchange buys nothing.
        emb.select("vec_id", "embedding")
        .join(F.broadcast(scales_row))
        .select("vec_id", "embedding", "scales", codes.alias("codes"))
        .select("vec_id", "embedding", "codes", recon.alias("recon"))
        .select("vec_id", "codes", errs.alias("errs"))
        .select(
            "vec_id",
            F.aggregate(
                F.col("errs"), F.lit(0.0), lambda a, e: a + e
            ).alias("l2sq_err"),
            F.array_max(F.col("errs")).alias("max_sq_err"),
            F.size(F.filter(F.col("codes"), lambda c: c != 0))
            .cast("bigint")
            .alias("nnz_codes"),
        )
    )


def emb_int8_quantize_sql() -> str:
    dim = EMB_DIM
    maxes = ", ".join(
        f"MAX(ABS(CAST(embedding[{i + 1}] AS DOUBLE))) AS m{i}"
        for i in range(dim)
    )
    scales = "[" + ", ".join(f"m{i} / 127.0" for i in range(dim)) + "]"
    code = (
        "CASE WHEN scales[i] > 0.0 "
        "THEN FLOOR(CAST(embedding[i] AS DOUBLE) / scales[i] + 0.5) "
        "ELSE 0.0 END"
    )
    return f"""
WITH s AS (SELECT {scales} AS scales FROM (SELECT {maxes} FROM embeddings)),
coded AS (
  SELECT vec_id, embedding, scales,
         list_transform(range(1, {dim + 1}), i -> {code}) AS codes
  FROM embeddings CROSS JOIN s
),
rec AS (
  SELECT vec_id, embedding, codes,
         list_transform(range(1, {dim + 1}),
                        i -> CAST(codes[i] AS DOUBLE) * scales[i]) AS recon
  FROM coded
),
erred AS (
  SELECT vec_id, codes,
         list_transform(range(1, {dim + 1}),
                        i -> (CAST(embedding[i] AS DOUBLE) - recon[i])
                             * (CAST(embedding[i] AS DOUBLE) - recon[i])) AS errs
  FROM rec
)
SELECT vec_id,
       list_reduce(list_prepend(0.0, errs), (a, e) -> a + e) AS l2sq_err,
       list_max(errs) AS max_sq_err,
       CAST(len(list_filter(codes, c -> c <> 0)) AS BIGINT) AS nnz_codes
FROM erred
"""


def _int8_recon(emb: DataFrame) -> DataFrame:
    """(vec_id, rv): the int8-reconstructed corpus — code*scale per
    dim with emb_int8_quantize's exact construction (shared max-abs
    scales row, broadcast re-entry, per-stage column materialization
    per the no-CSE-in-HOF rule)."""
    dim = EMB_DIM
    scales_row = emb.agg(
        *[
            F.max(F.abs(F.col("embedding")[i].cast("double"))).alias(f"m{i}")
            for i in range(dim)
        ]
    ).select(
        F.array(*[(F.col(f"m{i}") / 127.0) for i in range(dim)]).alias("scales")
    )
    codes = F.zip_with(
        F.col("embedding"),
        F.col("scales"),
        lambda x, s: F.when(
            s > 0.0, F.floor(x.cast("double") / s + F.lit(0.5))
        ).otherwise(F.lit(0).cast("bigint")),
    )
    recon = F.zip_with(
        F.col("codes"), F.col("scales"), lambda c, s: c.cast("double") * s
    )
    return (
        _spread(emb).select("vec_id", "embedding")
        .join(F.broadcast(scales_row))
        .select("vec_id", "scales", codes.alias("codes"))
        .select("vec_id", recon.alias("rv"))
    )


def _int8_recon_sql() -> str:
    dim = EMB_DIM
    maxes = ", ".join(
        f"MAX(ABS(CAST(embedding[{i + 1}] AS DOUBLE))) AS m{i}"
        for i in range(dim)
    )
    scales = "[" + ", ".join(f"m{i} / 127.0" for i in range(dim)) + "]"
    code = (
        "CASE WHEN scales[i] > 0.0 "
        "THEN FLOOR(CAST(embedding[i] AS DOUBLE) / scales[i] + 0.5) "
        "ELSE 0.0 END"
    )
    return (
        f"WITH s AS (SELECT {scales} AS scales "
        f"FROM (SELECT {maxes} FROM embeddings)), "
        "coded AS (SELECT vec_id, embedding, scales, "
        f"list_transform(range(1, {dim + 1}), i -> {code}) AS codes "
        "FROM embeddings CROSS JOIN s) "
        "SELECT vec_id, "
        f"list_transform(range(1, {dim + 1}), "
        "i -> CAST(codes[i] AS DOUBLE) * scales[i]) AS rv FROM coded"
    )


def emb_quantize_recall(
    emb: DataFrame, n_queries: int = 10, k: int = 10
) -> DataFrame:
    """(query_id, n_hits, recall): recall@k of brute-force cosine
    search run entirely in the int8-RECONSTRUCTED space (both query
    and corpus quantized — the symmetric deployment) against the
    float baseline — the accuracy audit that decides whether the 4x
    compression of emb_int8_quantize is admissible for retrieval, the
    int8 twin of ann_lsh_recall. Pure composition of deterministic
    relations: recon values are single IEEE products, the same
    index-order dot folds as ann_cosine_topk, ranks tie-broken by id
    — so the measurement hash-checks. Scale: recon is map-only after
    the one broadcast scales row; the scored join is the declared
    brute-force baseline shape (broadcast query side), never the
    production path."""
    from pyspark.sql import Window

    exact = ann_cosine_topk(emb, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    r = _int8_recon(emb)
    q = r.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("rv").alias("qv")
    )
    c = r.select(F.col("vec_id").alias("neighbor_id"), F.col("rv").alias("cv"))
    cos = _dot(F.col("qv"), F.col("cv")) / (
        _norm(F.col("qv")) * _norm(F.col("cv"))
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)).cast("double") / float(k)).alias(
                "recall"
            ),
        )
    )


def emb_quantize_recall_sql(n_queries: int = 10, k: int = 10) -> str:
    dot = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, len(q.qv) + 1), "
        "i -> q.qv[i] * c.cv[i])), (acc, x) -> acc + x)"
    )
    nrm = (
        "SQRT(list_reduce(list_prepend(0.0, list_transform({v}, "
        "x -> x * x)), (acc, x) -> acc + x))"
    )
    cos = f"({dot}) / ({nrm.format(v='q.qv')} * {nrm.format(v='c.cv')})"
    return (
        f"WITH exact AS (SELECT query_id, neighbor_id "
        f"FROM ({ann_cosine_topk_sql(n_queries, k)})), "
        f"recon AS ({_int8_recon_sql()}), "
        f"q AS (SELECT vec_id AS query_id, rv AS qv FROM recon "
        f"WHERE vec_id < {n_queries}), "
        "c AS (SELECT vec_id AS neighbor_id, rv AS cv FROM recon), "
        f"scored AS (SELECT query_id, neighbor_id, {cos} AS cos "
        "FROM q JOIN c ON query_id <> neighbor_id), "
        "approx AS (SELECT query_id, neighbor_id FROM ("
        "SELECT query_id, neighbor_id, ROW_NUMBER() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank "
        f"FROM scored) WHERE rank <= {k}), "
        "hits AS (SELECT exact.query_id, COUNT(*) AS n_hits FROM exact "
        "JOIN approx ON exact.query_id = approx.query_id "
        "AND exact.neighbor_id = approx.neighbor_id GROUP BY exact.query_id) "
        "SELECT qq.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits, "
        f"CAST(COALESCE(n_hits, 0) AS DOUBLE) / {float(k)!r} AS recall "
        "FROM (SELECT DISTINCT query_id FROM exact) qq "
        "LEFT JOIN hits ON qq.query_id = hits.query_id"
    )


def dedup_text_vs_semantic(
    docs: DataFrame, emb: DataFrame, threshold: float = 0.4, seed: int = 42
) -> DataFrame:
    """(vec_a, vec_b, is_text_dup, is_sem_dup, cos): agreement
    relation between EXACT text dedup (md5 identity) and SEMANTIC
    near-dup (hyperplane-LSH cosine) over the ids both modalities
    cover — the audit every SemDeDup-style rollout runs before
    trusting the semantic pass (text_only rows = semantic misses,
    sem_only rows = what semantics adds beyond byte identity).

    Scale shape: the text side is one self-join on the uniform md5
    key restricted to embedded ids; the semantic side is the bucketed
    LSH pair relation unchanged; the FULL OUTER join runs over pair
    ids only (16 bytes a row), never the texts or vectors."""
    ids = emb.select(F.col("vec_id").alias("doc_id"))
    d = docs.join(ids, "doc_id").select(
        "doc_id", F.md5(F.col("text")).alias("h")
    )
    tp = (
        d.alias("a")
        .join(d.alias("b"), "h")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("vec_a"),
            F.col("b.doc_id").alias("vec_b"),
            F.lit(True).alias("is_text_dup"),
        )
    )
    sem = dedup_embedding_lsh(emb, threshold=threshold, seed=seed).select(
        F.col("vec_a").alias("s_a"),
        F.col("vec_b").alias("s_b"),
        "cos",
    )
    j = tp.join(
        sem,
        (F.col("vec_a") == F.col("s_a")) & (F.col("vec_b") == F.col("s_b")),
        "full_outer",
    )
    return j.select(
        F.coalesce(F.col("vec_a"), F.col("s_a")).alias("vec_a"),
        F.coalesce(F.col("vec_b"), F.col("s_b")).alias("vec_b"),
        F.coalesce(F.col("is_text_dup"), F.lit(False)).alias("is_text_dup"),
        F.col("s_a").isNotNull().alias("is_sem_dup"),
        F.col("cos"),
    )


def dedup_text_vs_semantic_sql(threshold: float = 0.4, seed: int = 42) -> str:
    sem = dedup_embedding_lsh_sql(threshold=threshold, seed=seed)
    return f"""
WITH d AS (
  SELECT doc_id, md5(text) AS h
  FROM documents JOIN (SELECT DISTINCT vec_id FROM embeddings) e
    ON doc_id = e.vec_id
),
tp AS (
  SELECT a.doc_id AS vec_a, b.doc_id AS vec_b, TRUE AS is_text_dup
  FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id
),
sem AS ({sem})
SELECT COALESCE(tp.vec_a, sem.vec_a) AS vec_a,
       COALESCE(tp.vec_b, sem.vec_b) AS vec_b,
       COALESCE(tp.is_text_dup, FALSE) AS is_text_dup,
       sem.vec_a IS NOT NULL AS is_sem_dup,
       sem.cos AS cos
FROM tp FULL OUTER JOIN sem
  ON tp.vec_a = sem.vec_a AND tp.vec_b = sem.vec_b
"""


def emb_power_iter(emb: DataFrame) -> DataFrame:
    """One exact power-iteration step toward the corpus covariance's
    top eigenvector — the PCA primitive on top of emb_covariance:
    w = C·v0 with the deterministic start vector v0 = (1/√d,…,1/√d)
    (1/8 exactly at d=64 — a power-of-two scale, so the scaling is
    lossless), returned with the normalized next iterate and the
    Rayleigh quotient v0ᵀ·C·v0 = (1/√d)·Σ w (the first eigenvalue
    estimate). Returns (i, v1, wi, rayleigh).

    The iterative fit (run-to-convergence) is exactly the loop shape
    the project keeps rows-only (ann_ivf_search's Lloyd); this is its
    hash-checked fixed-step sibling, like ann_ivf_lloyd_fixed for
    k-means: the covariance relation is the ALREADY-verified
    emb_covariance tree (upper triangle, mirrored below the diagonal
    relationally), the matvec folds each row's 64 terms over a
    j-sorted array (both engines sum in one order), the global Σw /
    Σw² reductions fold ONE 64-element sorted array, and sqrt is
    IEEE-correctly-rounded in both engines, so no post-rounding is
    needed anywhere. Scale: everything after the covariance groupBy
    lives on d² = 4096 rows; the two scalars re-enter as a one-row
    broadcast (BroadcastNestedLoopJoin on purpose, like tpch_q11's
    global scalar)."""
    import math

    v0 = 1.0 / math.sqrt(EMB_DIM)
    cov = emb_covariance(emb)
    full = cov.union(
        cov.where(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("cov")
        )
    )
    rows = full.groupBy("i").agg(
        F.array_sort(F.collect_list(F.struct("j", "cov"))).alias("arr")
    )
    w = rows.select(
        "i",
        (
            F.lit(v0)
            * F.aggregate(
                F.col("arr"), F.lit(0.0), lambda a, s: a + s["cov"]
            )
        ).alias("wi"),
    )
    g = (
        w.agg(F.array_sort(F.collect_list(F.struct("i", "wi"))).alias("ws"))
        .select(
            F.aggregate(
                F.col("ws"), F.lit(0.0), lambda a, s: a + s["wi"] * s["wi"]
            ).alias("ss"),
            F.aggregate(
                F.col("ws"), F.lit(0.0), lambda a, s: a + s["wi"]
            ).alias("sw"),
        )
    )
    return w.crossJoin(F.broadcast(g)).select(
        "i",
        F.when(F.col("ss") > 0, F.col("wi") / F.sqrt("ss")).alias("v1"),
        "wi",
        (F.lit(v0) * F.col("sw")).alias("rayleigh"),
    )


def emb_power_iter2(emb: DataFrame) -> DataFrame:
    """TWO composed power-iteration steps (round 8; the
    ann_ivf_lloyd2 / holtWinters_nm2 pattern applied to the PCA
    primitive): w1 = C·v0, v1 = w1/‖w1‖, w2 = C·v1 — iteration 2
    consumes iteration 1's normalized iterate inside one Catalyst
    tree, so the step PLUS its composition (including the
    normalization between steps, which lloyd2 does not have an
    analogue of) is hash-checked; only a run-to-convergence loop
    remains outside the oracle. Returns (i, v2, wi, rayleigh) with
    rayleigh = v1ᵀ·C·v1 = v1·w2, the second (much tighter) eigenvalue
    estimate.

    Determinism: the matvec folds each row's 64 terms in j order
    against the broadcast v1 array (element products are single IEEE
    ops), ‖w‖²/rayleigh fold one sorted 64-array, sqrt is correctly
    rounded in both engines. Scale: identical to emb_power_iter —
    everything after the covariance groupBy lives on d² rows; v1
    re-enters as a one-row broadcast array."""
    return _power_iter2_from_cov(emb_covariance(emb))


def _power_iter2_from_cov(cov: DataFrame) -> DataFrame:
    """emb_power_iter2's tree rooted at an EXISTING (i, j, cov) upper-
    triangle relation — lets compositions (emb_pca2_deflate) persist
    the d²-row covariance once instead of re-deriving it per consumer
    (the corpus explode is the only expensive part; everything here is
    4096-row algebra)."""
    import math

    v0 = 1.0 / math.sqrt(EMB_DIM)
    full = cov.union(
        cov.where(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("cov")
        )
    )
    rows = full.groupBy("i").agg(
        F.array_sort(F.collect_list(F.struct("j", "cov"))).alias("arr")
    )
    w1 = rows.select(
        "i",
        (
            F.lit(v0)
            * F.aggregate(F.col("arr"), F.lit(0.0), lambda a, s: a + s["cov"])
        ).alias("w1i"),
    )
    g1 = w1.agg(
        F.array_sort(F.collect_list(F.struct("i", "w1i"))).alias("ws")
    ).select(
        F.aggregate(
            F.col("ws"), F.lit(0.0), lambda a, s: a + s["w1i"] * s["w1i"]
        ).alias("ss1")
    )
    v1 = w1.crossJoin(F.broadcast(g1)).select(
        "i",
        F.when(F.col("ss1") > 0, F.col("w1i") / F.sqrt("ss1")).alias("v1i"),
    )
    v1arr = v1.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "v1i"))),
            lambda s: s["v1i"],
        ).alias("v1a")
    )
    w2 = rows.crossJoin(F.broadcast(v1arr)).select(
        "i",
        F.aggregate(
            F.col("arr"),
            F.lit(0.0),
            lambda a, s: a + s["cov"] * F.element_at(F.col("v1a"), s["j"]),
        ).alias("wi"),
    )
    g2 = (
        w2.join(v1, "i")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("i", "wi", "v1i"))
            ).alias("ws")
        )
        .select(
            F.aggregate(
                F.col("ws"), F.lit(0.0), lambda a, s: a + s["wi"] * s["wi"]
            ).alias("ss2"),
            F.aggregate(
                F.col("ws"), F.lit(0.0), lambda a, s: a + s["v1i"] * s["wi"]
            ).alias("r2"),
        )
    )
    return w2.crossJoin(F.broadcast(g2)).select(
        "i",
        F.when(F.col("ss2") > 0, F.col("wi") / F.sqrt("ss2")).alias("v2"),
        "wi",
        F.col("r2").alias("rayleigh"),
    )


def _cov_full_mu_py(emb: DataFrame) -> tuple[dict, list]:
    """One collect of the Arrow partial-sum relation (_cov_tot —
    bounded: d(d+1)/2 + d rows by construction), then the mean and
    mean-product-subtraction arithmetic replicated in driver IEEE
    doubles (optimization round 12). Replaces, per consumer, the two
    tiny broadcast-build joins of emb_covariance_np AND any separate
    corpus-scale mean aggregation (emb_abtt's posexplode mu job) with
    ONE job: the corpus is touched exactly once for all of mu, cov
    and (downstream) pc1. Bit-equal to the relational path: py4j
    returns sd as decimal.Decimal and float() is the correctly-
    rounded decimal→double cast; m = double(sd)/double(n) and
    cov = double(sd)/double(n) − m_i·m_j are the identical single
    IEEE ops in the identical order as the joined projection they
    replace. Returns (full covariance dict, mu list indexed 0..d-1)."""
    rows = _cov_tot(emb).collect()
    means: dict = {}
    for r in rows:
        if int(r["j"]) == -1:
            means[int(r["i"])] = float(r["sd"]) / float(r["n"])
    full: dict = {}
    for r in rows:
        i, j = int(r["i"]), int(r["j"])
        if j > 0:
            c = float(r["sd"]) / float(r["n"]) - means[i] * means[j]
            full[(i, j)] = c
            if i != j:
                full[(j, i)] = c
    # ADVICE r12: index means[i] directly — a missing dimension (data
    # drift losing a mean-marker row) must KeyError loudly here, not
    # silently shift every later index of the positional mu literal
    # emb_abtt builds from this list.
    mu = [means[i] for i in range(1, EMB_DIM + 1)]
    return full, mu


def _power_iter2_py(full: dict):
    """_power_iter2_from_cov's two normalized power steps replicated
    in driver floats — bit-identical by construction: Python floats
    ARE IEEE-754 doubles, +/*/÷ are single IEEE ops exactly like the
    codegen'd Catalyst doubles they replace, math.sqrt is correctly
    rounded like java.lang.Math.sqrt, and every fold runs in the same
    sorted index order as the array_sort'd Catalyst fold (left fold,
    0.0 seed). Replacing the ~15 tiny broadcast-build stages of the
    d²-relation algebra with driver arithmetic is the optimization-
    round move: the input is O(d²) CONSTANT-size at any corpus scale,
    so the scheduler overhead was pure waste (measured r12: 19.4 s →
    ~2 s for emb_pca2_deflate at sf0.1; oracle hashes unchanged at
    all three SFs). Returns (v2, w2, rayleigh), lists indexed 0..d-1."""
    import math

    d = EMB_DIM
    v0 = 1.0 / math.sqrt(d)
    w1 = []
    for i in range(1, d + 1):
        acc = 0.0
        for j in range(1, d + 1):
            acc = acc + full[(i, j)]
        w1.append(v0 * acc)
    ss1 = 0.0
    for x in w1:
        ss1 = ss1 + x * x
    if not ss1 > 0:  # the F.when(ss1 > 0) guard: everything NULL
        return [None] * d, [None] * d, None
    sq1 = math.sqrt(ss1)
    v1 = [x / sq1 for x in w1]
    w2 = []
    for i in range(1, d + 1):
        acc = 0.0
        for j in range(1, d + 1):
            acc = acc + full[(i, j)] * v1[j - 1]
        w2.append(acc)
    ss2 = 0.0
    for x in w2:
        ss2 = ss2 + x * x
    r2 = 0.0
    for i in range(d):
        r2 = r2 + v1[i] * w2[i]
    if not ss2 > 0:
        return [None] * d, w2, r2
    sq2 = math.sqrt(ss2)
    v2 = [x / sq2 for x in w2]
    return v2, w2, r2


def emb_power_iter2_sql() -> str:
    import math

    v0 = repr(1.0 / math.sqrt(EMB_DIM))
    fold = "list_reduce(list_prepend(0.0, {l}), (a, x) -> a + x)"
    return (
        f"WITH cov AS ({emb_covariance_sql()}), "
        "fullm AS (SELECT i, j, cov FROM cov "
        "UNION ALL SELECT j AS i, i AS j, cov FROM cov WHERE i <> j), "
        f"w1 AS (SELECT i, {v0} * "
        + fold.format(l="list(cov ORDER BY j ASC)")
        + " AS w1i FROM fullm GROUP BY i), "
        "g1 AS (SELECT "
        + fold.format(l="list(w1i * w1i ORDER BY i ASC)")
        + " AS ss1 FROM w1), "
        "v1 AS (SELECT i, CASE WHEN ss1 > 0 THEN w1i / SQRT(ss1) END AS v1i "
        "FROM w1 CROSS JOIN g1), "
        "v1l AS (SELECT list(v1i ORDER BY i ASC) AS v1a FROM v1), "
        "rows2 AS (SELECT i, list(cov ORDER BY j ASC) AS rowv "
        "FROM fullm GROUP BY i), "
        "w2 AS (SELECT i, "
        + fold.format(
            l=f"list_transform(range(1, {EMB_DIM + 1}), "
            "k -> rowv[k] * v1a[k])"
        )
        + " AS wi FROM rows2 CROSS JOIN v1l), "
        "g2 AS (SELECT "
        + fold.format(l="list(wi * wi ORDER BY i ASC)")
        + " AS ss2, "
        + fold.format(l="list(v1i * wi ORDER BY i ASC)")
        + " AS r2 FROM w2 JOIN v1 USING (i)) "
        "SELECT i, CASE WHEN ss2 > 0 THEN wi / SQRT(ss2) END AS v2, wi, "
        "r2 AS rayleigh FROM w2 CROSS JOIN g2"
    )


def emb_power_iter_sql() -> str:
    import math

    v0 = repr(1.0 / math.sqrt(EMB_DIM))
    fold = "list_reduce(list_prepend(0.0, {l}), (a, x) -> a + x)"
    return (
        f"WITH cov AS ({emb_covariance_sql()}), "
        "fullm AS (SELECT i, j, cov FROM cov "
        "UNION ALL SELECT j AS i, i AS j, cov FROM cov WHERE i <> j), "
        f"w AS (SELECT i, {v0} * "
        + fold.format(l="list(cov ORDER BY j ASC)")
        + " AS wi FROM fullm GROUP BY i), "
        "g AS (SELECT "
        + fold.format(l="list(wi * wi ORDER BY i ASC)")
        + " AS ss, "
        + fold.format(l="list(wi ORDER BY i ASC)")
        + " AS sw FROM w) "
        "SELECT i, CASE WHEN ss > 0 THEN wi / SQRT(ss) END AS v1, wi, "
        f"{v0} * sw AS rayleigh FROM w CROSS JOIN g"
    )


def emb_outliers(emb: DataFrame, topk: int = 20) -> DataFrame:
    """Top-``topk`` embedding outliers by diagonal Mahalanobis
    distance — per-dimension z-score distance d² = Σ_j (x_j−μ_j)²/σ²_j
    — the embedding-space QA gate that flags corrupt/degenerate
    vectors before they poison ANN indexes or dedup clusters. The
    full-matrix Mahalanobis needs Σ⁻¹ (an iterative solve, the shape
    this repo keeps rows-only); the diagonal form is the standard
    large-scale screen and is closed-form deterministic.

    Determinism: μ_j and σ²_j = E[x²]−μ² come from dec6-quantized
    sums (the unbounded-corpus rule) cast to double before the /n;
    the per-vector fold runs j = 1..d in index order (both engines
    sum identically); zero-variance dims are skipped by CASE (ANSI
    throw vs NULL otherwise). Scale: ONE posexplode aggregation for
    the 64 stats rows, which re-enter as a one-row broadcast of two
    d-arrays (BroadcastNestedLoopJoin on purpose); the per-vector
    score is map-only; top-k is TakeOrderedAndProject. Returns
    (vec_id, label, dist2)."""
    from ..model import dec6

    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", "label", vd.alias("vd"))
    stats = (
        e.select(F.posexplode("vd").alias("pos", "x"))
        .groupBy((F.col("pos") + 1).cast("int").alias("j"))
        .agg(
            (F.sum(dec6(F.col("x"))).cast("double") / F.count("*")).alias("m"),
            (
                F.sum(dec6(F.col("x") * F.col("x"))).cast("double")
                / F.count("*")
            ).alias("ex2"),
        )
    )
    one = stats.agg(
        F.array_sort(
            F.collect_list(F.struct("j", "m", (F.col("ex2") - F.col("m") * F.col("m")).alias("v")))
        ).alias("sv")
    ).select(
        F.transform("sv", lambda s: s["m"]).alias("mu"),
        F.transform("sv", lambda s: s["v"]).alias("var"),
    )
    dist2 = F.aggregate(
        F.sequence(F.lit(1), F.lit(EMB_DIM)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.when(
            F.element_at(F.col("var"), j) > 0,
            (F.element_at(F.col("vd"), j) - F.element_at(F.col("mu"), j))
            * (F.element_at(F.col("vd"), j) - F.element_at(F.col("mu"), j))
            / F.element_at(F.col("var"), j),
        ).otherwise(0.0),
    )
    return (
        e.crossJoin(F.broadcast(one))
        .select("vec_id", "label", dist2.alias("dist2"))
        .orderBy(F.col("dist2").desc(), F.col("vec_id").asc())
        .limit(topk)
    )


def emb_outliers_sql(topk: int = 20) -> str:
    from ..model import dec6_sql

    return f"""
WITH v AS (
  SELECT vec_id, label,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
), st AS (
  SELECT CAST(r.i AS INTEGER) AS j,
    CAST(SUM({dec6_sql("vd[CAST(r.i AS INTEGER)]")}) AS DOUBLE) / COUNT(*) AS m,
    CAST(SUM({dec6_sql("vd[CAST(r.i AS INTEGER)] * vd[CAST(r.i AS INTEGER)]")}) AS DOUBLE)
      / COUNT(*) AS ex2
  FROM v, range(1, {EMB_DIM + 1}) r(i) GROUP BY r.i
), one AS (
  SELECT list(m ORDER BY j) AS mu, list(ex2 - m * m ORDER BY j) AS var
  FROM st
)
SELECT vec_id, label,
  list_reduce(list_prepend(0.0, list_transform(range(1, {EMB_DIM + 1}),
    j -> CASE WHEN var[CAST(j AS INTEGER)] > 0
      THEN (vd[CAST(j AS INTEGER)] - mu[CAST(j AS INTEGER)])
         * (vd[CAST(j AS INTEGER)] - mu[CAST(j AS INTEGER)])
         / var[CAST(j AS INTEGER)]
      ELSE 0.0 END)), (a, x) -> a + x) AS dist2
FROM v CROSS JOIN one
ORDER BY dist2 DESC, vec_id ASC LIMIT {topk}
"""


def _exact_l2_topk(emb: DataFrame, n_queries: int, k: int) -> DataFrame:
    """(query_id, neighbor_id): exact squared-L2 top-k ground truth —
    the brute-force baseline the IVF×PQ path approximates (cosine
    ground truth would mix metrics). Dim-order fold, ties to lower id."""
    from pyspark.sql import Window

    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("cv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )


def ann_ivf_probe_sweep(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    probes: tuple = (1, 2, 4),
) -> DataFrame:
    """(nprobe, n_hits, recall): the IVF×PQ recall-vs-cost CURVE —
    recall@k against the exact-L2 ground truth at each nprobe setting,
    one row per dial position. This is the table an index operator
    actually tunes from: cost scales ~nprobe/k_cells of the corpus
    (the scan side of ann_ivf_pq_search), and this measures what that
    buys. All inputs are fixed-codebook deterministic, so the sweep
    itself is hash-checked — the whole accuracy dial is oracled, not
    asserted.

    Scale: the ground truth is the declared O(N·q) exact baseline
    (queries broadcast); each sweep point reuses the composed
    IVF×PQ plan; the final aggregate is n_probes rows."""
    truth = _exact_l2_topk(emb, n_queries, k)
    outs = []
    for p in probes:
        appr = ann_ivf_pq_search(emb, n_queries, k, nprobe=p).select(
            "query_id", "neighbor_id"
        )
        hits = truth.join(appr, ["query_id", "neighbor_id"]).agg(
            F.count("*").alias("n_hits")
        )
        outs.append(
            hits.select(
                F.lit(p).cast("bigint").alias("nprobe"),
                F.col("n_hits").cast("bigint"),
                (
                    F.col("n_hits").cast("double")
                    / float(n_queries * k)
                ).alias("recall"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def ann_ivfadc_probe_sweep(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    probes: tuple = (1, 2, 4),
) -> DataFrame:
    """(nprobe, n_hits, recall): the recall-vs-cost curve for the
    RESIDUAL-encoded path (ann_ivfadc_search), measured against the
    same exact-L2 ground truth as ann_ivf_probe_sweep — side by side
    the two sweeps show what residual encoding buys at each dial
    position. Deterministic end to end, so the curve itself is
    hash-checked."""
    truth = _exact_l2_topk(emb, n_queries, k)
    outs = []
    for p in probes:
        appr = ann_ivfadc_search(emb, n_queries, k, nprobe=p).select(
            "query_id", "neighbor_id"
        )
        hits = truth.join(appr, ["query_id", "neighbor_id"]).agg(
            F.count("*").alias("n_hits")
        )
        outs.append(
            hits.select(
                F.lit(p).cast("bigint").alias("nprobe"),
                F.col("n_hits").cast("bigint"),
                (
                    F.col("n_hits").cast("double") / float(n_queries * k)
                ).alias("recall"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def ann_ivfadc_probe_sweep_sql(
    n_queries: int = 10, k: int = 10, probes: tuple = (1, 2, 4)
) -> str:
    diff = "(CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))"
    d2 = (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> {diff} * {diff})), (acc, x) -> acc + x)"
    )
    truth = (
        "SELECT query_id, neighbor_id FROM ("
        f"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {d2} AS d2 "
        "FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id "
        f"WHERE q.vec_id < {n_queries}) "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id "
        f"ORDER BY d2 ASC, neighbor_id ASC) <= {k}"
    )
    parts = []
    for p in probes:
        parts.append(
            f"SELECT CAST({p} AS BIGINT) AS nprobe, "
            "CAST(COUNT(*) AS BIGINT) AS n_hits, "
            f"CAST(COUNT(*) AS DOUBLE) / {float(n_queries * k)!r} AS recall "
            "FROM truth JOIN ("
            + ann_ivfadc_search_sql(n_queries, k, nprobe=p)
            + ") a ON truth.query_id = a.query_id "
            "AND truth.neighbor_id = a.neighbor_id"
        )
    return f"WITH truth AS ({truth}) " + " UNION ALL ".join(parts)


def ann_ivf_probe_sweep_sql(
    n_queries: int = 10, k: int = 10, probes: tuple = (1, 2, 4)
) -> str:
    diff = "(CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))"
    d2 = (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> {diff} * {diff})), (acc, x) -> acc + x)"
    )
    truth = (
        "SELECT query_id, neighbor_id FROM ("
        f"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {d2} AS d2 "
        "FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id "
        f"WHERE q.vec_id < {n_queries}) "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id "
        f"ORDER BY d2 ASC, neighbor_id ASC) <= {k}"
    )
    parts = []
    for p in probes:
        parts.append(
            f"SELECT CAST({p} AS BIGINT) AS nprobe, "
            "CAST(COUNT(*) AS BIGINT) AS n_hits, "
            f"CAST(COUNT(*) AS DOUBLE) / {float(n_queries * k)!r} AS recall "
            "FROM truth JOIN ("
            + ann_ivf_pq_search_sql(n_queries, k, nprobe=p)
            + ") a ON truth.query_id = a.query_id "
            "AND truth.neighbor_id = a.neighbor_id"
        )
    return f"WITH truth AS ({truth}) " + " UNION ALL ".join(parts)


# --- cross-modal retrieval (round 9) ----------------------------------------

def mm_text_image_pairs(
    emb: DataFrame, n_queries: int = 10, k: int = 10, seed: int = 42
) -> DataFrame:
    """CLIP-shape cross-modal retrieval join: TEXT-tower embeddings
    query IMAGE-tower embeddings for their top-k cosine matches
    through the SAME hyperplane-LSH bucket engine (shared plane
    literals) the within-modality dedup family uses — the retrieval
    pattern behind image-caption pairing / cross-modal dedup in
    multimodal training pipelines. Modality split on the synthetic
    embeddings table: even vec_id = image tower, odd = text tower
    (both towers must hash against the SAME planes for buckets to be
    comparable — exactly how a trained two-tower model shares its
    joint space). Queries = the first ``n_queries`` text vectors.

    Returns (text_id, image_id, rank, cos, in_exact, recall): the
    bucketed top-k per text with exact cosine scores, each pair
    flagged against the brute-force-exact top-k baseline, and the
    per-text recall@k — the accuracy dial rides in the relation
    itself, like ann_lsh_recall.

    Scale shape: signatures persist once (32 plane dots/vector); the
    image index is keys-only (id, tbl, bucket); the text queries
    multiprobe (9× probe keys on the FEW queries, not more tables on
    the whole corpus); candidates are bucket-local and DISTINCT'd
    before the exact rescore; only the bounded query relation
    broadcasts. The exact baseline is n_queries×corpus by
    construction — a declared measurement instrument, bounded by the
    query count exactly like ann_cosine_topk."""
    from pyspark.sql import Window

    sig = _lsh_signatures(emb, seed=seed).persist()  # fence: returned plan reads this cache
    text_q = (F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 2 * n_queries)
    is_img = F.col("vec_id") % 2 == 0

    keys = _lsh_keys(sig)
    ik = keys.where(is_img).select(
        F.col("vec_id").alias("image_id"), "tbl", "bucket"
    )
    variants = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i))
            for i in range(DEDUP_LSH_PLANES)
        ],
    )
    tk = (
        keys.where(text_q)
        .select(F.col("vec_id").alias("text_id"), "tbl", variants.alias("vs"))
        .select("text_id", "tbl", F.explode("vs").alias("bucket"))
    )
    cand = (
        F.broadcast(tk)
        .join(ik, ["tbl", "bucket"])
        .select("text_id", "image_id")
        .distinct()
    )
    tv = sig.where(text_q).select(
        F.col("vec_id").alias("text_id"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    iv = sig.where(is_img).select(
        F.col("vec_id").alias("image_id"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("text_id").orderBy(
        F.col("cos").desc(), F.col("image_id").asc()
    )
    approx = (
        cand.join(F.broadcast(tv), "text_id")
        .join(iv, "image_id")
        .select("text_id", "image_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    exact = (
        F.broadcast(tv)
        .join(iv, F.lit(True))
        .select("text_id", "image_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("text_id", "image_id")
    )
    wq = Window.partitionBy("text_id")
    return (
        approx.join(
            exact.withColumn("in_exact", F.lit(True)),
            ["text_id", "image_id"],
            "left",
        )
        .select(
            "text_id",
            "image_id",
            F.col("rank").cast("bigint").alias("rank"),
            "cos",
            F.coalesce("in_exact", F.lit(False)).alias("in_exact"),
        )
        .withColumn(
            "recall",
            F.sum(F.col("in_exact").cast("int")).over(wq).cast("double")
            / float(k),
        )
    )


def mm_text_image_pairs_sql(
    n_queries: int = 10, k: int = 10, seed: int = 42
) -> str:
    sig = _lsh_sig_sql(seed)
    key_rows = _lsh_keys_sql()
    cos = f"({_PAIR_DOT_SQL}) / (na * nb)"
    tq = f"vec_id % 2 = 1 AND vec_id < {2 * n_queries}"
    return (
        f"WITH s AS ({sig}), keys AS ({key_rows}), "
        f"ik AS (SELECT vec_id AS image_id, tbl, bucket FROM keys "
        "WHERE vec_id % 2 = 0), "
        f"tk AS (SELECT vec_id AS text_id, tbl, bucket FROM keys WHERE {tq} "
        "UNION ALL SELECT vec_id, tbl, xor(bucket, CAST(1 << i AS INTEGER)) "
        f"FROM keys, (SELECT UNNEST(range(0, {DEDUP_LSH_PLANES})) AS i) "
        f"WHERE {tq}), "
        "cand AS (SELECT DISTINCT tk.text_id, ik.image_id "
        "FROM tk JOIN ik ON tk.tbl = ik.tbl AND tk.bucket = ik.bucket), "
        f"tv AS (SELECT vec_id AS text_id, embedding AS ea, nrm AS na "
        f"FROM s WHERE {tq}), "
        "iv AS (SELECT vec_id AS image_id, embedding AS eb, nrm AS nb "
        "FROM s WHERE vec_id % 2 = 0), "
        "approx AS (SELECT text_id, image_id, cos, rank FROM ("
        f"SELECT c.text_id, c.image_id, {cos} AS cos, "
        "ROW_NUMBER() OVER (PARTITION BY c.text_id "
        f"ORDER BY {cos} DESC, c.image_id ASC) AS rank "
        "FROM cand c JOIN tv ON tv.text_id = c.text_id "
        "JOIN iv ON iv.image_id = c.image_id) "
        f"WHERE rank <= {k}), "
        "exact AS (SELECT text_id, image_id FROM ("
        f"SELECT tv.text_id, iv.image_id, "
        "ROW_NUMBER() OVER (PARTITION BY tv.text_id "
        f"ORDER BY {cos} DESC, iv.image_id ASC) AS rank "
        "FROM tv CROSS JOIN iv) "
        f"WHERE rank <= {k}) "
        "SELECT a.text_id, a.image_id, CAST(a.rank AS BIGINT) AS rank, "
        "a.cos, e.image_id IS NOT NULL AS in_exact, "
        "CAST(SUM(CASE WHEN e.image_id IS NOT NULL THEN 1 ELSE 0 END) "
        "OVER (PARTITION BY a.text_id) AS DOUBLE) "
        f"/ {float(k)!r} AS recall "
        "FROM approx a LEFT JOIN exact e "
        "ON e.text_id = a.text_id AND e.image_id = a.image_id"
    )


def ann_ivf_refresh(
    emb: DataFrame, k: int = IVF_CODEBOOK_K, seed: int = 7
) -> DataFrame:
    """Incremental IVF index maintenance (round 9): a NEW embedding
    increment (vec_id % 5 == 0) is assigned to the EXISTING centroids
    — a map-only broadcast argmin, no re-fit — and each cell reports
    the drift stats an index operator reads before deciding to
    re-train: (cell, n_old, n_new, growth, mean_dist_old,
    mean_dist_new, drift). growth = new/old arrival ratio (a cell
    absorbing disproportionate traffic); drift = mean_dist_new −
    mean_dist_old (new vectors sitting farther from the centroid than
    the ones it was built for = the distribution moved — re-fit or
    split). The incremental-maintenance member of the IVF family next
    to ann_ivf_balance (static health) and ann_ivf_lloyd (re-fit),
    and the ANN twin of dedup_incremental's index-consult shape.

    Scale: two map-only assignment passes against the broadcast
    codebook and ONE k-row groupBy — no shuffle grows with corpus
    size except the per-cell partial aggregation. Determinism:
    counts exact; distance means are micro6 BIGINT sums divided once
    (bounded per cell), drift a single subtraction of those."""
    from ..model import micro6

    m = F.col("vec_id") % 5
    asg = ann_ivf_assign(emb, k, seed).withColumn("is_new", m == 0)
    per = asg.groupBy("cell").agg(
        F.sum((~F.col("is_new")).cast("bigint")).alias("n_old"),
        F.sum(F.col("is_new").cast("bigint")).alias("n_new"),
        F.sum(
            F.when(~F.col("is_new"), micro6(F.col("dist"))).otherwise(F.lit(0))
        ).alias("d_old6"),
        F.sum(
            F.when(F.col("is_new"), micro6(F.col("dist"))).otherwise(F.lit(0))
        ).alias("d_new6"),
    )
    mean_old = F.when(
        F.col("n_old") > 0,
        F.col("d_old6").cast("double") / 1000000.0 / F.col("n_old"),
    )
    mean_new = F.when(
        F.col("n_new") > 0,
        F.col("d_new6").cast("double") / 1000000.0 / F.col("n_new"),
    )
    return per.select(
        "cell",
        "n_old",
        "n_new",
        F.when(
            F.col("n_old") > 0,
            F.col("n_new").cast("double") / F.col("n_old"),
        ).alias("growth"),
        mean_old.alias("mean_dist_old"),
        mean_new.alias("mean_dist_new"),
        (mean_new - mean_old).alias("drift"),
    )


def ann_ivf_refresh_sql(k: int = IVF_CODEBOOK_K, seed: int = 7) -> str:
    from ..model import micro6_sql

    asg = ann_ivf_assign_sql(k, seed)
    mean_old = (
        "CASE WHEN n_old > 0 THEN CAST(d_old6 AS DOUBLE) / 1000000.0 / n_old END"
    )
    mean_new = (
        "CASE WHEN n_new > 0 THEN CAST(d_new6 AS DOUBLE) / 1000000.0 / n_new END"
    )
    return (
        f"WITH asg AS (SELECT *, vec_id % 5 = 0 AS is_new FROM ({asg})), "
        "per AS (SELECT cell, "
        "CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS n_old, "
        "CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new, "
        f"SUM(CASE WHEN is_new THEN 0 ELSE {micro6_sql('dist')} END) AS d_old6, "
        f"SUM(CASE WHEN is_new THEN {micro6_sql('dist')} ELSE 0 END) AS d_new6 "
        "FROM asg GROUP BY cell) "
        "SELECT cell, n_old, n_new, "
        "CASE WHEN n_old > 0 THEN CAST(n_new AS DOUBLE) / n_old END AS growth, "
        f"{mean_old} AS mean_dist_old, {mean_new} AS mean_dist_new, "
        f"({mean_new}) - ({mean_old}) AS drift FROM per"
    )


def emb_pca_project(emb: DataFrame) -> DataFrame:
    """(vec_id, pc1): every vector's coordinate along the leading
    principal direction — the projection step that turns the PCA
    primitives (emb_covariance → emb_power_iter2) into per-vector
    features for visualization, whitening, or drift monitoring.
    pc1 = (x − μ)·v₂ with v₂ the two-step power iterate and μ the
    per-dimension dec6 means (the covariance's own centering).

    Scale: the fit side lives on d² rows (covariance) and d-row
    aggregates; the corpus is touched by ONE map-only pass — the
    direction and mean arrays re-enter as one-row broadcasts and the
    projection is an in-row fold. Determinism: μ is the dec6-exact
    mean (identical to the covariance's), v₂'s folds are the
    already-hash-checked power_iter2 algebra, and the projection
    folds (x_j − μ_j)·v₂_j in j order — single IEEE ops in identical
    sequence in both engines, no rounding needed."""
    from ..model import dec6

    pit = emb_power_iter2(emb)
    v2a = pit.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "v2"))),
            lambda s: s["v2"],
        ).alias("v2a")
    )
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", vd.alias("vd"))
    mus = (
        e.select(F.posexplode("vd").alias("pos", "x"))
        .groupBy((F.col("pos") + 1).cast("int").alias("mi"))
        .agg(
            (F.sum(dec6(F.col("x"))).cast("double") / F.count("*")).alias("m")
        )
    )
    mua = mus.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("mi", "m"))),
            lambda s: s["m"],
        ).alias("mua")
    )
    proj = F.aggregate(
        F.sequence(F.lit(1), F.lit(EMB_DIM)),
        F.lit(0.0),
        lambda a, j: a
        + (F.element_at(F.col("vd"), j) - F.element_at(F.col("mua"), j))
        * F.element_at(F.col("v2a"), j),
    )
    return (
        e.crossJoin(F.broadcast(v2a))
        .crossJoin(F.broadcast(mua))
        .select("vec_id", proj.alias("pc1"))
    )


def emb_pca_project_sql() -> str:
    from ..model import dec6_sql

    fold = (
        "list_reduce(list_prepend(0.0, list_transform("
        f"range(1, {EMB_DIM + 1}), "
        "j -> (vd[CAST(j AS INTEGER)] - mua[CAST(j AS INTEGER)]) "
        "* v2a[CAST(j AS INTEGER)])), (a, x) -> a + x)"
    )
    return (
        f"WITH pit AS ({emb_power_iter2_sql()}), "
        "v2l AS (SELECT list(v2 ORDER BY i ASC) AS v2a FROM pit), "
        "v AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd "
        "FROM embeddings), "
        "mu AS (SELECT CAST(r.i AS INTEGER) AS mi, "
        f"CAST(SUM({dec6_sql('vd[CAST(r.i AS INTEGER)]')}) AS DOUBLE) "
        "/ COUNT(*) AS m "
        f"FROM v, range(1, {EMB_DIM + 1}) r(i) GROUP BY r.i), "
        "mul AS (SELECT list(m ORDER BY mi ASC) AS mua FROM mu) "
        f"SELECT vec_id, {fold} AS pc1 "
        "FROM v CROSS JOIN v2l CROSS JOIN mul"
    )


# --- hard-triplet mining (round 9) ------------------------------------------

TRIPLET_ANCHORS = 16
TRIPLET_ALPHA = 0.05


def emb_triplet_mining(
    emb: DataFrame,
    n_anchors: int = TRIPLET_ANCHORS,
    alpha: float = TRIPLET_ALPHA,
) -> DataFrame:
    """(anchor_id, pos_id, neg_id, cos_pos, cos_neg, margin, semi_hard):
    batch-hard triplet mining over a labeled embedding corpus — for
    each anchor in the mining batch, the HARDEST positive (same label,
    lowest cosine) and HARDEST negative (other label, highest cosine),
    the pair every metric-learning / contrastive run mines before each
    step (FaceNet's batch-hard rule). margin = cos_pos − cos_neg;
    semi_hard = 1 when the negative is farther than the positive but
    inside the margin band (cos_neg < cos_pos < cos_neg + alpha) — the
    semi-hard subset FaceNet trains on.

    Scale shape: the anchor batch is training-batch-sized (bounded by
    construction) and BROADCASTS into one map-only scan of the corpus;
    the picks are groupBy(anchor) MIN/MAX over (cos, id) structs —
    partial aggregation combines map-side, so the network carries
    n_anchors rows per partition, never the scored relation. No window
    over a corpus-sized partition (the brute-force ann_cosine_topk
    shape this improves on). Norms are computed ONCE per vector before
    the join; dots are left-folds, so the doubles are bit-identical to
    DuckDB; arg-min/max tie-break on id, so the picks are exact."""
    v = (
        emb.where(F.col("label").isNotNull())
        .select(
            "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm")
        )
        # zero-norm guard (CLAUDE.md division rule): an all-zero vector
        # would make cos NaN, and NaN ORDERS DIFFERENTLY across engines
        # (struct-min sorts it last; DuckDB ORDER BY DESC sorts it first)
        .where(F.col("nrm") > 0)
    )
    a = v.where(F.col("vec_id") < n_anchors).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("la"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    c = v.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("lc"),
        F.col("embedding").alias("vc"),
        F.col("nrm").alias("nc"),
    )
    cos = _dot(F.col("va"), F.col("vc")) / (F.col("na") * F.col("nc"))
    scored = (
        F.broadcast(a)
        .join(c, F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            (F.col("la") == F.col("lc")).alias("same_label"),
            F.col("cand_id"),
            cos.alias("cos"),
        )
    )
    # struct MIN orders lexicographically: (cos asc, id asc) for the
    # hardest positive; (-cos asc = cos desc, id asc) for the hardest
    # negative — both deterministic under cos ties
    pos = (
        scored.where(F.col("same_label"))
        .groupBy("anchor_id")
        .agg(F.min(F.struct(F.col("cos"), F.col("cand_id"))).alias("p"))
        .select(
            "anchor_id",
            F.col("p.cand_id").alias("pos_id"),
            F.col("p.cos").alias("cos_pos"),
        )
    )
    neg = (
        scored.where(~F.col("same_label"))
        .groupBy("anchor_id")
        .agg(
            F.min(F.struct((-F.col("cos")).alias("nc"), F.col("cand_id"))).alias("n")
        )
        .select(
            "anchor_id",
            F.col("n.cand_id").alias("neg_id"),
            (-F.col("n.nc")).alias("cos_neg"),
        )
    )
    margin = F.col("cos_pos") - F.col("cos_neg")
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "pos_id",
        "neg_id",
        "cos_pos",
        "cos_neg",
        margin.alias("margin"),
        (
            (F.col("cos_neg") < F.col("cos_pos")) & (margin < float(alpha))
        ).cast("bigint").alias("semi_hard"),
    )


def emb_triplet_mining_sql(
    n_anchors: int = TRIPLET_ANCHORS, alpha: float = TRIPLET_ALPHA
) -> str:
    dot = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        "i -> CAST(a.va[i] AS DOUBLE) * CAST(c.vc[i] AS DOUBLE))), "
        "(acc, x) -> acc + x)"
    )
    return (
        f"WITH v AS (SELECT * FROM (SELECT vec_id, label, embedding, "
        f"{_NORM_SQL} AS nrm "
        "FROM embeddings WHERE label IS NOT NULL) WHERE nrm > 0), "
        "a AS (SELECT vec_id AS anchor_id, label AS la, embedding AS va, "
        f"nrm AS na FROM v WHERE vec_id < {n_anchors}), "
        "c AS (SELECT vec_id AS cand_id, label AS lc, embedding AS vc, "
        "nrm AS nc FROM v), "
        "scored AS (SELECT anchor_id, la = lc AS same_label, cand_id, "
        f"({dot}) / (na * nc) AS cos "
        "FROM a JOIN c ON anchor_id <> cand_id), "
        "pos AS (SELECT anchor_id, cand_id AS pos_id, cos AS cos_pos FROM ("
        "SELECT anchor_id, cand_id, cos, ROW_NUMBER() OVER ("
        "PARTITION BY anchor_id ORDER BY cos ASC, cand_id ASC) AS rn "
        "FROM scored WHERE same_label) WHERE rn = 1), "
        "neg AS (SELECT anchor_id, cand_id AS neg_id, cos AS cos_neg FROM ("
        "SELECT anchor_id, cand_id, cos, ROW_NUMBER() OVER ("
        "PARTITION BY anchor_id ORDER BY cos DESC, cand_id ASC) AS rn "
        "FROM scored WHERE NOT same_label) WHERE rn = 1) "
        "SELECT anchor_id, pos_id, neg_id, cos_pos, cos_neg, "
        "cos_pos - cos_neg AS margin, "
        "CAST(cos_neg < cos_pos AND cos_pos - cos_neg < "
        f"{float(alpha)!r} AS BIGINT) AS semi_hard "
        "FROM pos JOIN neg USING (anchor_id)"
    )


# --- second principal component via deflation (round 9) ----------------------

def emb_pca2_deflate(emb: DataFrame) -> DataFrame:
    """(i, pc1, pc2, lambda1, lambda2, ortho): the SECOND principal
    direction by Hotelling deflation, composed in one Catalyst tree —
    take the hash-checked two-step iterate v (emb_power_iter2) and its
    Rayleigh eigenvalue estimate, deflate the covariance
    C' = C − λ·v·vᵀ on the d² relation, and run the same two
    normalized power steps on C'. Together with emb_pca_project this
    gives the 2-component PCA a corpus-scale whitening/visualization
    pass needs; ortho = Σ pc1ᵢ·pc2ᵢ (rounded at 9) rides along as the
    orthogonality audit — deflation guarantees it only up to the
    iterate's convergence, so it is measured, not assumed.

    Scale posture (optimization round 12): the ONLY corpus-scale work
    is the covariance — computed distributed via the Arrow partial-
    sum path (emb_covariance_np, pytest-pinned bit-equal to the
    declarative explode). Everything downstream is O(d²) = 4096
    CONSTANT-size values at any corpus scale, so it collects once
    (the bounded-collect class) and the two deflated power iterates
    run as driver IEEE arithmetic in the exact fold order the
    Catalyst tree used — bit-identical results, ~3 jobs instead of
    ~40 tiny broadcast-build stages whose scheduling overhead
    dominated (19.4 s → ~2 s at sf0.1; the r11 VERDICT measured the
    old shape at 18.9 s driver / 18.1 s idle and adjudicated it
    'fine' only for lack of a cheaper equivalent — this is that
    cheaper equivalent, same hashes at all three SFs)."""
    full, _ = _cov_full_mu_py(emb)
    pc1, _, lam1 = _power_iter2_py(full)
    d = EMB_DIM
    if lam1 is None or any(v is None for v in pc1):
        # degenerate (zero-ish) matrix: a NULL iterate NULLs the
        # deflated covariance and everything after it, exactly as in
        # the Catalyst tree this replaces
        pc2, lam2 = [None] * d, None
    else:
        # deflation C' = C − λ·v·vᵀ, same left-assoc op order as the
        # Catalyst projection it replaces: cov − ((lam · v_i) · v_j)
        defl = {
            (i, j): c - lam1 * pc1[i - 1] * pc1[j - 1]
            for (i, j), c in full.items()
        }
        pc2, _, lam2 = _power_iter2_py(defl)
    if any(v is None for v in pc1) or any(v is None for v in pc2):
        ortho = None
    else:
        ortho = 0.0
        for i in range(d):
            ortho = ortho + pc1[i] * pc2[i]
    out = literal_df(emb.sparkSession,
        [(i + 1, pc1[i], pc2[i], lam1, lam2) for i in range(d)],
        "i int, pc1 double, pc2 double, lambda1 double, lambda2 double",
    )
    # the final HALF_UP round stays in Catalyst (F.round over the
    # exact literal) so its semantics are the engine's own, as before
    return out.select(
        "i", "pc1", "pc2", "lambda1", "lambda2",
        F.round(F.lit(ortho).cast("double"), 9).alias("ortho"),
    )


def emb_pca2_deflate_sql() -> str:
    import math

    v0 = repr(1.0 / math.sqrt(EMB_DIM))
    fold = "list_reduce(list_prepend(0.0, {l}), (a, x) -> a + x)"
    return (
        f"WITH p AS ({emb_power_iter2_sql()}), "
        f"cov2 AS ({emb_covariance_sql()}), "
        "fullm AS (SELECT i, j, cov FROM cov2 "
        "UNION ALL SELECT j AS i, i AS j, cov FROM cov2 WHERE i <> j), "
        "v2l AS (SELECT list(v2 ORDER BY i ASC) AS v2a, "
        "MIN(rayleigh) AS lam FROM p), "
        "defl AS (SELECT i, j, "
        "cov - lam * v2a[CAST(i AS INTEGER)] * v2a[CAST(j AS INTEGER)] AS cov "
        "FROM fullm CROSS JOIN v2l), "
        f"w1 AS (SELECT i, {v0} * "
        + fold.format(l="list(cov ORDER BY j ASC)")
        + " AS w1i FROM defl GROUP BY i), "
        "g1 AS (SELECT "
        + fold.format(l="list(w1i * w1i ORDER BY i ASC)")
        + " AS ss1 FROM w1), "
        "v1 AS (SELECT i, CASE WHEN ss1 > 0 THEN w1i / SQRT(ss1) END AS v1i "
        "FROM w1 CROSS JOIN g1), "
        "v1l AS (SELECT list(v1i ORDER BY i ASC) AS v1a FROM v1), "
        "rows2 AS (SELECT i, list(cov ORDER BY j ASC) AS rowv "
        "FROM defl GROUP BY i), "
        "w2 AS (SELECT i, "
        + fold.format(
            l=f"list_transform(range(1, {EMB_DIM + 1}), "
            "k -> rowv[k] * v1a[k])"
        )
        + " AS wi FROM rows2 CROSS JOIN v1l), "
        "g2 AS (SELECT "
        + fold.format(l="list(wi * wi ORDER BY i ASC)")
        + " AS ss2, "
        + fold.format(l="list(v1i * wi ORDER BY i ASC)")
        + " AS r2 FROM w2 JOIN v1 USING (i)), "
        "pc2 AS (SELECT i, CASE WHEN ss2 > 0 THEN wi / SQRT(ss2) END AS pc2, "
        "r2 AS lambda2 FROM w2 CROSS JOIN g2), "
        "joined AS (SELECT p.i AS i, p.v2 AS pc1, pc2.pc2 AS pc2, "
        "p.rayleigh AS lambda1, pc2.lambda2 AS lambda2 "
        "FROM p JOIN pc2 ON p.i = pc2.i), "
        "o AS (SELECT ROUND("
        + fold.format(l="list(pc1 * pc2 ORDER BY i ASC)")
        + ", 9) AS ortho FROM joined) "
        "SELECT i, pc1, pc2, lambda1, lambda2, ortho FROM joined CROSS JOIN o"
    )


# --- IVF assignment-margin audit (round 9) ------------------------------------

def ann_ivf_margin(
    emb: DataFrame, k: int = IVF_CODEBOOK_K, seed: int = 7
) -> DataFrame:
    """(cell, n, mean_margin, n_tight, tight_frac): per-cell
    assignment-margin audit — for every vector, the gap d2 − d1
    between its nearest and second-nearest centroid (squared L2), and
    the fraction of the cell's members sitting TIGHT on a boundary
    (d2 < 1.1·d1). ann_ivf_balance says whether cells are evenly
    SIZED; this says whether their contents are confidently ASSIGNED —
    a cell full of tight vectors loses recall at nprobe=1 however
    balanced the index looks, and the tight fraction is exactly the
    signal that prices the nprobe dial (probe sweeps measure the
    effect; this locates the cause cell by cell).

    Map-only: one scan against the broadcast codebook, d1/d2 read off
    the sorted per-row distance array (no second pass, no join), ONE
    ≤k-row groupBy. Determinism: distances are left-fold squared-L2
    (bit-identical engines), the sort is over those exact doubles,
    mean_margin accumulates dec6 decimals cast to double before the
    division, and the tight test multiplies by the literal 1.1
    identically in both engines."""
    from ..model import dec6

    cents = _ivf_codebook(k, seed=seed)
    cdf = literal_df(emb.sparkSession,
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )
    d = _spread(emb).crossJoin(F.broadcast(cdf)).select(
        "vec_id", _sq_dists(F.col("cents")).alias("dists")
    )
    ds = F.array_sort(F.col("dists"))
    per = d.select(
        F.array_position(F.col("dists"), F.array_min("dists"))
        .cast("bigint")
        .alias("cell"),
        F.element_at(ds, 1).alias("d1"),
        F.element_at(ds, 2).alias("d2"),
    )
    margin = F.col("d2") - F.col("d1")
    tight = (F.col("d2") < F.col("d1") * 1.1).cast("bigint")
    return per.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum(dec6(margin)).cast("double") / F.count("*")).alias(
            "mean_margin"
        ),
        F.sum(tight).cast("bigint").alias("n_tight"),
        (F.sum(tight).cast("double") / F.count("*")).alias("tight_frac"),
    )


def ann_ivf_margin_sql(k: int = IVF_CODEBOOK_K, seed: int = 7) -> str:
    from ..model import dec6_sql

    cents = _ivf_codebook(k, seed=seed)
    return (
        f"WITH {_ivf_cents_cte(cents)}, "
        f"d AS (SELECT vec_id, {_ivf_dists_sql()} AS dists "
        "FROM embeddings CROSS JOIN ivfk), "
        "per AS (SELECT "
        "CAST(list_position(dists, list_min(dists)) AS BIGINT) AS cell, "
        "list_sort(dists)[1] AS d1, list_sort(dists)[2] AS d2 FROM d) "
        "SELECT cell, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(" + dec6_sql("d2 - d1") + ") AS DOUBLE) / COUNT(*) "
        "AS mean_margin, "
        "CAST(SUM(CAST(d2 < d1 * 1.1 AS BIGINT)) AS BIGINT) AS n_tight, "
        "CAST(SUM(CAST(d2 < d1 * 1.1 AS BIGINT)) AS DOUBLE) / COUNT(*) "
        "AS tight_frac "
        "FROM per GROUP BY cell"
    )


# --- matryoshka truncation evaluation (round 10) -----------------------------

MRL_DIMS = (8, 16, 32, 64)
MRL_QUERIES = 16
MRL_K = 10


def emb_matryoshka_eval(
    emb: DataFrame,
    dims: tuple = MRL_DIMS,
    n_queries: int = MRL_QUERIES,
    k: int = MRL_K,
) -> DataFrame:
    """(dims, recall_at1, mean_overlap_at_k): retrieval quality of
    PREFIX-truncated embeddings vs the full vector — the
    Matryoshka-representation storage dial (Kusupati et al. 2022): an
    MRL-trained embedding keeps most retrieval quality in its first
    8/16/32 dims, and this measures exactly what a given truncation
    costs on THIS corpus before a pipeline commits to storing the
    short prefix (8x storage + bandwidth at dims=8). recall_at1 =
    fraction of queries whose truncated top-1 equals the full-dim
    top-1; mean_overlap_at_k = mean |topk_trunc ∩ topk_full|/k.

    Plan: ONE broadcast of the query batch into ONE corpus scan; all
    |dims| prefix cosines are computed in-row from a single
    materialized per-pair products array (prefix dot = fold of a
    slice — no per-dims rescan), then exploded to (dims, pair) rows;
    ranking windows partition by (dims, query) — group size = corpus
    per query-dims, same as ann_cosine_topk's audited shape; the
    overlap join is topk-sized. Left-fold doubles, id tie-breaks,
    exact-integer ratios — deterministic cross-engine."""
    from pyspark.sql import Window

    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = _spread(emb).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    pairs = F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id"))
    # materialize the elementwise arrays ONCE (the no-CSE-in-lambda
    # rule): products and both squared streams, then each dims is a
    # fold over a slice
    mat = pairs.select(
        "query_id",
        "neighbor_id",
        F.zip_with(
            "qv", "cv", lambda x, y: x.cast("double") * y.cast("double")
        ).alias("prod"),
        F.transform("qv", lambda x: x.cast("double") * x.cast("double")).alias("q2"),
        F.transform("cv", lambda x: x.cast("double") * x.cast("double")).alias("c2"),
    )

    def fold(col, d):
        return F.aggregate(
            F.slice(col, 1, d), F.lit(0.0), lambda acc, x: acc + x
        )

    # zero-norm guard (ADVICE r10): a vector whose first-d dims are all
    # zero would give 0.0/0.0 = NaN in Spark (sorts FIRST under DESC)
    # but NULL in DuckDB — guard to NULL in BOTH engines and order
    # desc_nulls_last explicitly so a regenerated-testdata zero prefix
    # can never flip the per-(dims,query) top-k. The guard reads the
    # SAME three per-dims folds the cosine uses — each fold computed
    # ONCE into the struct, guard + division applied on the scalars
    # after the explode (the r11 shape folded q2/c2 twice per dims
    # inside the guard: 20 folds/pair instead of 12 — VERDICT r11
    # watch item; this shape measured 3.2 s -> 2.3 s at sf0.1).
    fold_structs = F.array(
        *[
            F.struct(
                F.lit(d).alias("dims"),
                fold(F.col("prod"), d).alias("p"),
                fold(F.col("q2"), d).alias("a"),
                fold(F.col("c2"), d).alias("b"),
            )
            for d in dims
        ]
    )
    scored = mat.select(
        "query_id", "neighbor_id", F.explode(fold_structs).alias("s")
    ).select(
        "query_id",
        "neighbor_id",
        F.col("s.dims").alias("dims"),
        F.when(
            (F.col("s.a") > 0) & (F.col("s.b") > 0),
            F.col("s.p") / (F.sqrt("s.a") * F.sqrt("s.b")),
        ).alias("cos"),
    )
    w = Window.partitionBy("dims", "query_id").orderBy(
        F.col("cos").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .persist()  # fence: returned plan reads this cache
    )
    full = topk.where(F.col("dims") == max(dims)).select(
        "query_id",
        "neighbor_id",
        F.col("rank").alias("full_rank"),
    )
    j = topk.join(full, ["query_id", "neighbor_id"], "left")
    per_q = j.groupBy("dims", "query_id").agg(
        F.max(
            F.when(
                (F.col("rank") == 1) & (F.col("full_rank") == 1), 1
            ).otherwise(0)
        ).alias("hit1"),
        F.sum(
            F.when(F.col("full_rank").isNotNull(), 1).otherwise(0)
        ).alias("n_overlap"),
    )
    return per_q.groupBy("dims").agg(
        (F.sum("hit1").cast("double") / F.count("*")).alias("recall_at1"),
        (
            F.sum("n_overlap").cast("double") / (F.count("*") * F.lit(int(k)))
        ).alias("mean_overlap_at_k"),
    ).select(F.col("dims").cast("bigint").alias("dims"), "recall_at1", "mean_overlap_at_k")


def emb_matryoshka_eval_sql(
    dims: tuple = MRL_DIMS, n_queries: int = MRL_QUERIES, k: int = MRL_K
) -> str:
    def fold(arr, d):
        return (
            f"list_reduce(list_prepend(0.0, {arr}[1 : {d}]), "
            "(acc, x) -> acc + x)"
        )

    # zero-norm guard mirrors the Spark side: NULL (not NaN) on a
    # zero prefix, NULLS LAST in the ranking window below.
    cos_rows = ", ".join(
        "{'dims': %d, 'cos': CASE WHEN (%s) > 0 AND (%s) > 0 "
        "THEN (%s) / (SQRT(%s) * SQRT(%s)) END}"
        % (
            d,
            fold("q2", d),
            fold("c2", d),
            fold("prod", d),
            fold("q2", d),
            fold("c2", d),
        )
        for d in dims
    )
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {n_queries}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
mat AS (
  SELECT query_id, neighbor_id,
         list_transform(range(1, len(qv) + 1),
           i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)) AS prod,
         list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS q2,
         list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS c2
  FROM q JOIN c ON query_id <> neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id, s.dims AS dims, s.cos AS cos
  FROM (SELECT query_id, neighbor_id, UNNEST([{cos_rows}]) AS s FROM mat)
),
topk AS (
  SELECT * FROM (
    SELECT dims, query_id, neighbor_id, ROW_NUMBER() OVER (
      PARTITION BY dims, query_id
      ORDER BY cos DESC NULLS LAST, neighbor_id ASC) AS rank
    FROM scored) WHERE rank <= {k}
),
fullk AS (
  SELECT query_id, neighbor_id, rank AS full_rank FROM topk
  WHERE dims = {max(dims)}
),
per_q AS (
  SELECT t.dims, t.query_id,
         MAX(CASE WHEN t.rank = 1 AND f.full_rank = 1 THEN 1 ELSE 0 END) AS hit1,
         SUM(CASE WHEN f.full_rank IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
  FROM topk t LEFT JOIN fullk f
    ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
  GROUP BY t.dims, t.query_id
)
SELECT CAST(dims AS BIGINT) AS dims,
       CAST(SUM(hit1) AS DOUBLE) / COUNT(*) AS recall_at1,
       CAST(SUM(n_overlap) AS DOUBLE) / (COUNT(*) * {k}) AS mean_overlap_at_k
FROM per_q GROUP BY dims
"""


# --- IVF tombstone / deletion maintenance (round 10) --------------------------

TOMB_MOD = 7
TOMB_COMPACT_FRAC = 0.3


def ann_ivf_tombstone(
    emb: DataFrame,
    k: int = IVF_CODEBOOK_K,
    seed: int = 7,
    mod: int = TOMB_MOD,
    compact_frac: float = TOMB_COMPACT_FRAC,
) -> DataFrame:
    """(cell, n_before, n_deleted, n_live, deleted_frac,
    needs_compact): DELETION maintenance for the IVF index — the
    other half of the lifecycle next to ann_ivf_refresh's additions.
    A production index absorbs deletions (GDPR purges, retracted
    docs, dedup winners replacing losers) as TOMBSTONES — the
    inverted lists are not rewritten per delete; instead each cell
    tracks its dead fraction and is compacted (list rewritten
    live-only) when it crosses compact_frac, because a cell whose
    list is 30% tombstones pays 1.4× scan cost on every probe that
    lands in it. The deleted set here is the deterministic
    vec_id % 7 == 0 split (query plumbing, same convention as
    INCREMENT_MOD).

    Scale: ONE map-only broadcast-argmin assignment pass (shared
    ann_ivf_assign shape — zero shuffle over the corpus), then a ≤k-row
    groupBy; output size constant in N. Exact integers; one guarded
    division."""
    a = ann_ivf_assign(emb, k, seed)
    per = a.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before"),
        F.sum((F.col("vec_id") % mod == 0).cast("int"))
        .cast("bigint")
        .alias("n_deleted"),
    )
    frac = F.when(
        F.col("n_before") > 0,
        F.col("n_deleted").cast("double") / F.col("n_before"),
    )
    return per.select(
        "cell",
        "n_before",
        "n_deleted",
        (F.col("n_before") - F.col("n_deleted")).cast("bigint").alias("n_live"),
        frac.alias("deleted_frac"),
        (frac >= float(compact_frac)).cast("bigint").alias("needs_compact"),
    )


def ann_ivf_tombstone_sql(
    k: int = IVF_CODEBOOK_K,
    seed: int = 7,
    mod: int = TOMB_MOD,
    compact_frac: float = TOMB_COMPACT_FRAC,
) -> str:
    cents = _ivf_codebook(k, seed=seed)
    return (
        f"WITH {_ivf_cents_cte(cents)}, "
        f"d AS (SELECT vec_id, {_ivf_dists_sql()} AS dists "
        "FROM embeddings CROSS JOIN ivfk), "
        "a AS (SELECT vec_id, "
        "CAST(list_position(dists, list_min(dists)) AS BIGINT) AS cell "
        "FROM d), "
        "per AS (SELECT cell, COUNT(*) AS n_before, "
        f"SUM(CASE WHEN vec_id % {mod} = 0 THEN 1 ELSE 0 END) AS n_deleted "
        "FROM a GROUP BY cell) "
        "SELECT cell, CAST(n_before AS BIGINT) AS n_before, "
        "CAST(n_deleted AS BIGINT) AS n_deleted, "
        "CAST(n_before - n_deleted AS BIGINT) AS n_live, "
        "CASE WHEN n_before > 0 THEN CAST(n_deleted AS DOUBLE) / n_before "
        "END AS deleted_frac, "
        "CAST((CASE WHEN n_before > 0 THEN CAST(n_deleted AS DOUBLE) "
        f"/ n_before END) >= {float(compact_frac)!r} AS BIGINT) "
        "AS needs_compact FROM per"
    )


# --- IVF tombstone compaction EXECUTE step (round 11) --------------------------
#
# ann_ivf_tombstone SCHEDULES compaction (per-cell needs_compact);
# these functions PERFORM it — the execute half the archive and
# dedup-index layers already have (archive.py rrd_compact_archive,
# dedup.py dedup_index_compact). The index lives as one parquet
# relation partitioned by cell (index_dir/cells/cell=N/); deletions
# are tombstones (vec_id % mod == 0, the same deterministic split the
# scheduler audits); compaction rewrites ONLY the cells whose
# PHYSICAL dead fraction crosses compact_frac, dropping tombstoned
# rows — untouched cells' files are never rewritten (the
# no-gratuitous-rewrite pin from rrd_compact_archive). Because the
# dead fraction is measured on the physical index, a second run sees
# 0 tombstones in every compacted cell and rewrites nothing —
# idempotent by construction.


def ann_ivf_index_write(
    spark, index_dir: str, emb: DataFrame, k: int = IVF_CODEBOOK_K, seed: int = 7
) -> None:
    """Materialize the IVF index: one map-only broadcast-argmin
    assignment pass, written partitioned by cell so every probe (and
    every compaction) touches only its own inverted list's files.

    Optimization round 12: the cell is computed INLINE on the scan row
    (ann_ivf_assign's exact argmin expressions) instead of joining the
    corpus back to itself on vec_id — that join shuffled every vector
    twice for no information (guide §2.4, remove shuffles outright).
    The single remaining exchange is a repartition BY CELL before the
    partitioned write, so each inverted list lands as one file instead
    of (shuffle partitions × cells) shards — every later maintenance
    phase re-reads these files several times, and the small-file tax
    was paid on each read (guide §6)."""
    cents = _ivf_codebook(k, seed=seed)
    cdf = literal_df(emb.sparkSession,
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )
    rows = (
        _spread(emb)
        .crossJoin(F.broadcast(cdf))
        .select("vec_id", "embedding", _sq_dists(F.col("cents")).alias("dists"))
        .select(
            "vec_id",
            "embedding",
            F.array_position(F.col("dists"), F.array_min("dists"))
            .cast("bigint")
            .alias("cell"),
        )
    )
    rows.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{index_dir}/cells")


def ann_ivf_index_live(
    spark, index_dir: str, mod: int = TOMB_MOD
) -> DataFrame:
    """The live view: physical rows minus the tombstone mask. For
    compacted cells the mask is a no-op (the dead rows are physically
    gone); for not-yet-compacted cells it hides them at read time —
    the standard tombstone read discipline."""
    idx = spark.read.parquet(f"{index_dir}/cells")
    return idx.where(F.col("vec_id") % mod != 0)


def ann_ivf_compact_cells(
    spark,
    index_dir: str,
    mod: int = TOMB_MOD,
    compact_frac: float = TOMB_COMPACT_FRAC,
) -> list[int]:
    """Rewrite live-only every cell whose PHYSICAL tombstone fraction
    >= compact_frac; leave every other cell's files untouched.
    Returns the compacted cell ids (sorted).

    Mechanics: the per-cell audit is a <=k-row collect (codebook-
    bounded, like the one-row scalar reads the plan audit allows);
    the rewrite is ONE dynamic-partition-overwrite job over the
    needs-compact cells' live rows — at k=4096 cells on a real
    cluster this stays a single job, not a per-cell loop. A cell left
    with ZERO live rows gets its directory retired directly (dynamic
    overwrite only replaces partitions present in the output).
    Idempotent: compacted cells read back with physical dead frac 0,
    so a replay selects nothing."""
    cells_dir = f"{index_dir}/cells"
    idx = spark.read.parquet(cells_dir)
    tomb = (F.col("vec_id") % mod) == 0
    per = (
        idx.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_phys"),
            F.sum(tomb.cast("int")).alias("n_dead"),
        )
        .collect()
    )
    bad = sorted(
        int(r["cell"])
        for r in per
        if r["n_dead"] > 0
        and r["n_phys"] > 0
        and r["n_dead"] / r["n_phys"] >= compact_frac
    )
    if not bad:
        return []
    zero_live = [
        int(r["cell"]) for r in per if int(r["cell"]) in set(bad)
        and r["n_dead"] == r["n_phys"]
    ]
    live_bad = idx.where(F.col("cell").isin(bad) & ~tomb)
    # ADVICE r11: scope dynamic overwrite to THIS write via the writer
    # option (honored per-write since Spark 2.4) instead of mutating
    # the session-global conf, which a concurrent writer in the same
    # SparkSession would silently inherit.
    (
        live_bad.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(cells_dir)
    )
    if zero_live:
        from ..streaming.catalog import _fs

        for c in zero_live:
            fs, p, _ = _fs(spark, f"{cells_dir}/cell={c}")
            fs.delete(p, True)
    return bad


def ann_ivf_compact_audit(
    spark,
    index_dir: str,
    compacted: list[int],
    mod: int = TOMB_MOD,
) -> DataFrame:
    """(cell, n_physical, n_live, was_compacted) from a RE-READ of
    the post-compaction index — n_physical counts rows actually on
    disk, so the relation proves the rewrite dropped exactly the
    tombstoned rows of the compacted cells and left every other
    cell's physical rows (tombstones included) alone."""
    idx = spark.read.parquet(f"{index_dir}/cells")
    tomb = (F.col("vec_id") % mod) == 0
    comp = F.col("cell").isin([int(c) for c in compacted]) if compacted else F.lit(False)
    return (
        idx.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_physical"),
            F.sum((~tomb).cast("int")).cast("bigint").alias("n_live"),
            F.max(comp.cast("int")).cast("bigint").alias("was_compacted"),
        )
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            "n_physical",
            "n_live",
            "was_compacted",
        )
    )


def ann_ivf_compact_sql(
    k: int = IVF_CODEBOOK_K,
    seed: int = 7,
    mod: int = TOMB_MOD,
    compact_frac: float = TOMB_COMPACT_FRAC,
) -> str:
    """Oracle: the post-compaction physical state derived
    arithmetically — a compacted cell's physical rows are its live
    rows, an untouched cell keeps everything."""
    cents = _ivf_codebook(k, seed=seed)
    return (
        f"WITH {_ivf_cents_cte(cents)}, "
        f"d AS (SELECT vec_id, {_ivf_dists_sql()} AS dists "
        "FROM embeddings CROSS JOIN ivfk), "
        "a AS (SELECT vec_id, "
        "CAST(list_position(dists, list_min(dists)) AS BIGINT) AS cell "
        "FROM d), "
        "per AS (SELECT cell, COUNT(*) AS n_before, "
        f"SUM(CASE WHEN vec_id % {mod} = 0 THEN 1 ELSE 0 END) AS n_deleted "
        "FROM a GROUP BY cell), "
        "state AS (SELECT cell, n_before, n_deleted, "
        "(n_deleted > 0 AND n_before > 0 AND "
        f"CAST(n_deleted AS DOUBLE) / n_before >= {float(compact_frac)!r}) "
        "AS wc FROM per) "
        "SELECT CAST(cell AS BIGINT) AS cell, "
        "CAST(CASE WHEN wc THEN n_before - n_deleted ELSE n_before END "
        "AS BIGINT) AS n_physical, "
        "CAST(n_before - n_deleted AS BIGINT) AS n_live, "
        "CAST(CASE WHEN wc THEN 1 ELSE 0 END AS BIGINT) AS was_compacted "
        "FROM state WHERE NOT (wc AND n_before = n_deleted)"
    )


# --- drift-triggered warm codebook re-fit (round 11) ---------------------------


def ann_ivf_refit_warm(
    emb: DataFrame, k: int = IVF_CODEBOOK_K, seed: int = 7
) -> DataFrame:
    """(cell, n_before, n_after, moved_dist, obj_before, obj_after):
    the CONSUMER of ann_ivf_refresh's drift/growth re-train signals —
    a warm-started re-fit that runs 2 Lloyd iterations from the
    EXISTING codebook over the full (old + increment) corpus instead
    of re-seeding, which is how a production index re-trains: the old
    centroids are already near the optimum, so a warm start converges
    in a couple of sweeps where a cold k-means++ restart pays the
    full fit (and reshuffles every stored cell id). Per cell it emits
    what the re-fit changed: member counts under the old vs new
    codebook, how far the centroid moved (L2, micro6-quantized), and
    the mean squared assignment distance before (old codebook, old
    assignment) vs after (new codebook, new assignment) — Lloyd
    guarantees the TOTAL objective is non-increasing, the pytest pins
    it, and per-cell the deltas are the split/merge signals the next
    maintenance cycle reads.

    Plan: the same unrolled 2-iteration single-Catalyst-tree shape as
    ann_ivf_lloyd2_fixed (assignment map-only vs one-row broadcast
    codebooks; centroid updates are k-row micro6 groupBys), plus two
    k-row objective aggregations; per the broadcast-fence rule the
    assignment relations feeding multiple one-row broadcast builds
    are persist()+count()-fenced. Output constant in N. Determinism:
    micro6 sums everywhere, (int64/1e6)/cnt mean op order, left-fold
    squared L2, micro6-quantized sqrt for moved_dist."""
    from ..model import micro6

    cents = _ivf_codebook(k, seed=seed)
    spark = emb.sparkSession
    cdf = literal_df(spark,
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )
    a0 = (
        _spread(emb)  # 1 scan task locally; the k×d fold is per-row
        .crossJoin(F.broadcast(cdf))
        .select("vec_id", "embedding", _sq_dists(F.col("cents")).alias("dists"))
        .select(
            "vec_id",
            "embedding",
            F.array_position(F.col("dists"), F.array_min("dists"))
            .cast("bigint")
            .alias("cell"),
            F.array_min("dists").alias("dist"),
        )
        .persist()  # fence: returned plan reads this cache
    )
    a0.count()
    # collect each k-row centroid relation and re-inject it as a
    # literal (optimization round 12): the warm re-fit's cost was pure
    # driver planning/scheduling — every consumer of a _lloyd_cents
    # relation re-planned the 64-wide agg subtree, and c2 needed its
    # own persist fence (it fed the a2 broadcast build AND the moved
    # join). Collected doubles round-trip py4j bit-exactly, so every
    # downstream value is unchanged; c2's fence job disappears and the
    # moved distances become driver IEEE arithmetic in the same fold
    # order (zip_with index order; math.sqrt == java sqrt, both
    # correctly rounded; floor/1e6 identical).
    c1_rows = sorted(
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in _lloyd_cents(a0).collect()
    )
    a1 = _lloyd_reassign(
        a0, literal_df(spark, c1_rows, "cell long, centroid array<double>")
    ).persist()  # fence: returned plan reads this cache
    a1.count()
    c2_rows = sorted(
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in _lloyd_cents(a1).collect()
    )
    a2 = _lloyd_reassign(
        a1, literal_df(spark, c2_rows, "cell long, centroid array<double>")
    )
    ob = a0.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before"),
        F.sum(micro6(F.col("dist"))).alias("ob6"),
    )
    oa = a2.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after"),
        F.sum(micro6(F.col("dist"))).alias("oa6"),
    )
    import math as _math

    c0 = {i + 1: [float(x) for x in c] for i, c in enumerate(cents)}
    moved_rows = []
    for cell, cent in c2_rows:
        if cell not in c0:
            continue
        acc = 0.0
        for x, y in zip(cent, c0[cell]):
            d2 = (x - y) * (x - y)
            acc = acc + d2
        moved_rows.append(
            (cell, _math.floor(_math.sqrt(acc) * 1000000.0 + 0.5) / 1000000.0)
        )
    moved = literal_df(spark, moved_rows, "cell long, moved_dist double")
    return (
        moved.join(ob, "cell", "left")
        .join(oa, "cell", "left")
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            F.coalesce("n_before", F.lit(0)).cast("bigint").alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
            "moved_dist",
            F.when(
                F.col("n_before") > 0,
                F.col("ob6").cast("double") / 1000000.0 / F.col("n_before"),
            ).alias("obj_before"),
            F.when(
                F.col("n_after") > 0,
                F.col("oa6").cast("double") / 1000000.0 / F.col("n_after"),
            ).alias("obj_after"),
        )
    )


def ann_ivf_refit_warm_sql(k: int = IVF_CODEBOOK_K, seed: int = 7) -> str:
    """Same CTE chain as ann_ivf_lloyd_sql(iters=2) with dist carried
    through every assignment, plus the per-cell before/after
    objective and centroid-movement emissions."""
    from ..model import micro6_sql

    cents = _ivf_codebook(k, seed=seed)
    dim = EMB_DIM
    sum_cols = ", ".join(
        f"SUM(CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS s{i}"
        for i in range(dim)
    )
    cent_arr = (
        "["
        + ", ".join(f"CAST(s{i} AS DOUBLE) / 1000000.0 / cnt" for i in range(dim))
        + "]"
    )
    parts = [
        _ivf_cents_cte(cents),
        f"d0 AS (SELECT vec_id, embedding, {_ivf_dists_sql()} AS dists "
        "FROM embeddings CROSS JOIN ivfk)",
        "a1 AS (SELECT vec_id, embedding, "
        "CAST(list_position(dists, list_min(dists)) AS BIGINT) AS cell, "
        "CAST(list_min(dists) AS DOUBLE) AS dist FROM d0)",
    ]
    for it in (1, 2):
        prev = f"a{it}"
        diff = f"(CAST({prev}.embedding[i] AS DOUBLE) - c[i])"
        dists = (
            f"list_transform(clist{it}.cents2, c -> "
            "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
            f"i -> {diff} * {diff})), (acc, x) -> acc + x))"
        )
        parts += [
            f"sums{it} AS (SELECT cell, COUNT(*) AS cnt, {sum_cols} "
            f"FROM {prev} GROUP BY cell)",
            f"nc{it} AS (SELECT cell, {cent_arr} AS centroid FROM sums{it})",
            f"clist{it} AS (SELECT list(cell ORDER BY cell) AS cells, "
            f"list(centroid ORDER BY cell) AS cents2 FROM nc{it})",
            f"d{it} AS (SELECT {prev}.vec_id, {prev}.embedding, "
            f"clist{it}.cells, {dists} AS dists FROM {prev}, clist{it})",
            f"a{it + 1} AS (SELECT vec_id, embedding, "
            "CAST(cells[list_position(dists, list_min(dists))] AS BIGINT) AS cell, "
            f"CAST(list_min(dists) AS DOUBLE) AS dist FROM d{it})",
        ]
    mv_sq = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        "i -> (nc2.centroid[i] - cs[CAST(nc2.cell AS BIGINT)][i]) * "
        "(nc2.centroid[i] - cs[CAST(nc2.cell AS BIGINT)][i]))), "
        "(acc, x) -> acc + x)"
    )
    parts += [
        "ob AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_before, "
        f"SUM({micro6_sql('dist')}) AS ob6 FROM a1 GROUP BY cell)",
        "oa AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_after, "
        f"SUM({micro6_sql('dist')}) AS oa6 FROM a3 GROUP BY cell)",
        "mv AS (SELECT nc2.cell, "
        f"FLOOR(SQRT({mv_sq}) * 1000000.0 + 0.5) / 1000000.0 AS moved_dist "
        "FROM nc2, ivfk)",
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT CAST(mv.cell AS BIGINT) AS cell, "
        "CAST(COALESCE(n_before, 0) AS BIGINT) AS n_before, "
        "CAST(COALESCE(n_after, 0) AS BIGINT) AS n_after, "
        "moved_dist, "
        "CASE WHEN n_before > 0 THEN CAST(ob6 AS DOUBLE) / 1000000.0 / n_before "
        "END AS obj_before, "
        "CASE WHEN n_after > 0 THEN CAST(oa6 AS DOUBLE) / 1000000.0 / n_after "
        "END AS obj_after "
        "FROM mv LEFT JOIN ob ON ob.cell = mv.cell "
        "LEFT JOIN oa ON oa.cell = mv.cell"
    )


# --- hot-cell split execute step (round 11) ------------------------------------

SPLIT_FACTOR = 1.5


def ann_ivf_split(
    emb: DataFrame,
    k: int = IVF_CODEBOOK_K,
    seed: int = 7,
    factor: float = SPLIT_FACTOR,
) -> DataFrame:
    """(cell, n_before, n_a, n_b, obj_before, obj_after): the
    hot-cell SPLIT — the maintenance action ann_ivf_balance's skew
    audit calls for (a cell absorbing disproportionate mass turns
    nprobe=1 into a near-linear scan for every query that routes to
    it) but nothing executed. Every cell holding more than
    ``factor``× the even share (n/k) is split 2-ways: members seed by
    vec_id parity, one Lloyd step fits the two sub-centroids, members
    re-assign to the nearer one — bisecting k-means' split step
    (Steinbach et al. 2000), warm within the cell. The per-cell mean
    squared distance is GUARANTEED non-increasing (each parity
    group's mean minimizes its own SSE and re-assignment only ever
    moves a member to a closer center), pytest-pinned.

    Scale: assignment is the shared map-only broadcast-argmin pass;
    the hot-cell relation is ≤k rows and broadcasts into the member
    filter; sub-centroid fitting is ONE groupBy over hot-cell members
    with micro6 map-combined sums (≤2k result rows); re-assignment
    broadcasts the ≤2k sub-centroid rows back. Output ≤k rows.
    Determinism: micro6 sums, (int64/1e6)/cnt means, left-fold
    squared L2, argmin ties to the lower parity."""
    from ..model import micro6

    cents = _ivf_codebook(k, seed=seed)
    spark = emb.sparkSession
    cdf = literal_df(spark,
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )
    a0 = (
        _spread(emb).crossJoin(F.broadcast(cdf))
        .select("vec_id", "embedding", _sq_dists(F.col("cents")).alias("dists"))
        .select(
            "vec_id",
            "embedding",
            F.array_position(F.col("dists"), F.array_min("dists"))
            .cast("bigint")
            .alias("cell"),
            F.array_min("dists").alias("dist"),
        )
        .persist()
    )
    a0.count()  # fence: a0 feeds the one-row total AND the member scan
    per = a0.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt"))
    tot = a0.agg(F.count(F.lit(1)).alias("n"))
    hot = (
        per.crossJoin(F.broadcast(tot))
        .where(F.col("cnt") > F.lit(float(factor)) * F.col("n") / F.lit(int(k)))
        .select("cell")
    )
    mem = a0.join(F.broadcast(hot), "cell").withColumn(
        "p", (F.col("vec_id") % 2).cast("bigint")
    ).persist()
    mem.count()  # fence: mem feeds the ≤2k sub-centroid build AND reassign
    sc = (
        _lloyd_cents(mem, keys=("cell", "p"))
        .groupBy("cell")
        .agg(
            F.sort_array(F.collect_list(F.struct("p", "centroid"))).alias("cs")
        )
        .select(
            "cell",
            F.col("cs.p").alias("ps"),
            F.col("cs.centroid").alias("cents2"),
        )
    )
    j = mem.join(F.broadcast(sc), "cell").select(
        "cell",
        "vec_id",
        "dist",
        "ps",
        _sq_dists(F.col("cents2")).alias("sd"),
    )
    side = F.element_at(
        F.col("ps"),
        F.array_position(F.col("sd"), F.array_min("sd")).cast("int"),
    )
    scored = j.select(
        "cell",
        "dist",
        side.alias("side"),
        F.array_min("sd").alias("dist_new"),
    )
    return scored.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before"),
        F.sum((F.col("side") == 0).cast("int")).cast("bigint").alias("n_a"),
        F.sum((F.col("side") == 1).cast("int")).cast("bigint").alias("n_b"),
        (
            F.sum(micro6(F.col("dist"))).cast("double")
            / 1000000.0
            / F.count(F.lit(1))
        ).alias("obj_before"),
        (
            F.sum(micro6(F.col("dist_new"))).cast("double")
            / 1000000.0
            / F.count(F.lit(1))
        ).alias("obj_after"),
    ).select(
        F.col("cell").cast("bigint").alias("cell"),
        "n_before", "n_a", "n_b", "obj_before", "obj_after",
    )


def ann_ivf_split_sql(
    k: int = IVF_CODEBOOK_K, seed: int = 7, factor: float = SPLIT_FACTOR
) -> str:
    from ..model import micro6_sql

    cents = _ivf_codebook(k, seed=seed)
    dim = EMB_DIM
    sum_cols = ", ".join(
        f"SUM(CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS s{i}"
        for i in range(dim)
    )
    cent_arr = (
        "["
        + ", ".join(f"CAST(s{i} AS DOUBLE) / 1000000.0 / cnt" for i in range(dim))
        + "]"
    )
    diff = "(CAST(mem.embedding[i] AS DOUBLE) - c[i])"
    sub_dists = (
        "list_transform(sc.cents2, c -> "
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        f"i -> {diff} * {diff})), (acc, x) -> acc + x))"
    )
    return f"""
WITH {_ivf_cents_cte(cents)},
d0 AS (SELECT vec_id, embedding, {_ivf_dists_sql()} AS dists
       FROM embeddings CROSS JOIN ivfk),
a0 AS (SELECT vec_id, embedding,
       CAST(list_position(dists, list_min(dists)) AS BIGINT) AS cell,
       CAST(list_min(dists) AS DOUBLE) AS dist FROM d0),
tot AS (SELECT COUNT(*) AS n FROM a0),
hot AS (SELECT cell FROM (SELECT cell, COUNT(*) AS cnt FROM a0 GROUP BY cell)
        CROSS JOIN tot WHERE cnt > {float(factor)!r} * n / {int(k)}),
mem AS (SELECT a0.*, CAST(vec_id % 2 AS BIGINT) AS p
        FROM a0 WHERE cell IN (SELECT cell FROM hot)),
sums AS (SELECT cell, p, COUNT(*) AS cnt, {sum_cols}
         FROM mem GROUP BY cell, p),
nc AS (SELECT cell, p, {cent_arr} AS centroid FROM sums),
sc AS (SELECT cell, list(p ORDER BY p) AS ps,
       list(centroid ORDER BY p) AS cents2 FROM nc GROUP BY cell),
scored AS (
  SELECT mem.cell, mem.dist,
         sc.ps[list_position({sub_dists}, list_min({sub_dists}))] AS side,
         CAST(list_min({sub_dists}) AS DOUBLE) AS dist_new
  FROM mem JOIN sc ON mem.cell = sc.cell
)
SELECT CAST(cell AS BIGINT) AS cell,
       CAST(COUNT(*) AS BIGINT) AS n_before,
       CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       CAST(SUM({micro6_sql('dist')}) AS DOUBLE) / 1000000.0 / COUNT(*)
         AS obj_before,
       CAST(SUM({micro6_sql('dist_new')}) AS DOUBLE) / 1000000.0 / COUNT(*)
         AS obj_after
FROM scored GROUP BY cell
"""


# --- cold-cell merge execute step (round 11) -----------------------------------

MERGE_FRAC = 0.5


def ann_ivf_merge(
    emb: DataFrame,
    k: int = IVF_CODEBOOK_K,
    seed: int = 7,
    frac: float = MERGE_FRAC,
) -> DataFrame:
    """(cell, n_members, obj_before, obj_after, n_dest_cells): the
    COLD-cell half of the cell lifecycle next to ann_ivf_split's hot
    half — a cell holding under ``frac``× the even share wastes a
    codebook slot and a probe route (its list is scanned on every
    query that lands there for almost no recall), so production
    indexes retire cold centroids and fold their members into the
    surviving cells. Every cold cell's members re-assign to the
    nearest SURVIVING centroid (map-only argmin against the k-minus-
    cold broadcast list); per retired cell the relation reports the
    member count, the mean squared distance before (own centroid) and
    after (adopted centroid — obj_after >= obj_before structurally,
    removing a center can only move members farther; the pytest pins
    the inequality and that survivors keep their members untouched),
    and how many surviving cells absorbed the members. At least one
    cell always survives: cold is strictly-below-average, and not
    every cell can be below average.

    Scale: one shared assignment pass; the cold set and survivor
    codebook are ≤k-row relations collapsed to ONE broadcast row (no
    driver collect); the re-assignment touches cold members only.
    Output ≤k rows. Micro6 means, left-fold distances, first-index
    argmin ties."""
    from ..model import micro6

    cents = _ivf_codebook(k, seed=seed)
    spark = emb.sparkSession
    cdf = literal_df(spark,
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )
    a0 = (
        _spread(emb).crossJoin(F.broadcast(cdf))
        .select("vec_id", "embedding", _sq_dists(F.col("cents")).alias("dists"))
        .select(
            "vec_id",
            "embedding",
            F.array_position(F.col("dists"), F.array_min("dists"))
            .cast("bigint")
            .alias("cell"),
            F.array_min("dists").alias("dist"),
        )
        .persist()
    )
    a0.count()  # fence: a0 feeds the one-row total AND the member scan
    per = a0.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt"))
    tot = a0.agg(F.count(F.lit(1)).alias("n"))
    cold = (
        per.crossJoin(F.broadcast(tot))
        .where(F.col("cnt") < F.lit(float(frac)) * F.col("n") / F.lit(int(k)))
        .select("cell")
    )
    # surviving codebook: literal cells 1..k minus the cold set,
    # collapsed to one broadcast row (cells sorted, centroids aligned)
    cells_lit = literal_df(spark,
        [(i + 1, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell long, centroid array<double>",
    )
    surv = (
        cells_lit.join(cold, "cell", "anti")
        .groupBy()
        .agg(F.sort_array(F.collect_list(F.struct("cell", "centroid"))).alias("cs"))
        .select(F.col("cs.cell").alias("cells"), F.col("cs.centroid").alias("cents2"))
    )
    mem = a0.join(F.broadcast(cold), "cell")
    moved = (
        mem.crossJoin(F.broadcast(surv))
        .select(
            "cell",
            "dist",
            "cells",
            _sq_dists(F.col("cents2")).alias("sd"),
        )
        .select(
            "cell",
            "dist",
            F.element_at(
                F.col("cells"),
                F.array_position(F.col("sd"), F.array_min("sd")).cast("int"),
            )
            .cast("bigint")
            .alias("dest"),
            F.array_min("sd").alias("dist_new"),
        )
    )
    return moved.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        (
            F.sum(micro6(F.col("dist"))).cast("double")
            / 1000000.0
            / F.count(F.lit(1))
        ).alias("obj_before"),
        (
            F.sum(micro6(F.col("dist_new"))).cast("double")
            / 1000000.0
            / F.count(F.lit(1))
        ).alias("obj_after"),
        F.count_distinct("dest").cast("bigint").alias("n_dest_cells"),
    ).select(
        F.col("cell").cast("bigint").alias("cell"),
        "n_members", "obj_before", "obj_after", "n_dest_cells",
    )


def ann_ivf_merge_sql(
    k: int = IVF_CODEBOOK_K, seed: int = 7, frac: float = MERGE_FRAC
) -> str:
    from ..model import micro6_sql

    cents = _ivf_codebook(k, seed=seed)
    cells_lit = ", ".join(
        "(%d, %s)" % (i + 1, "[" + ", ".join(repr(float(x)) for x in c) + "]")
        for i, c in enumerate(cents)
    )
    diff = "(CAST(mem.embedding[i] AS DOUBLE) - c[i])"
    sub_dists = (
        "list_transform(surv.cents2, c -> "
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        f"i -> {diff} * {diff})), (acc, x) -> acc + x))"
    )
    return f"""
WITH {_ivf_cents_cte(cents)},
d0 AS (SELECT vec_id, embedding, {_ivf_dists_sql()} AS dists
       FROM embeddings CROSS JOIN ivfk),
a0 AS (SELECT vec_id, embedding,
       CAST(list_position(dists, list_min(dists)) AS BIGINT) AS cell,
       CAST(list_min(dists) AS DOUBLE) AS dist FROM d0),
tot AS (SELECT COUNT(*) AS n FROM a0),
cold AS (SELECT cell FROM (SELECT cell, COUNT(*) AS cnt FROM a0 GROUP BY cell)
         CROSS JOIN tot WHERE cnt < {float(frac)!r} * n / {int(k)}),
clit AS (SELECT * FROM (VALUES {cells_lit}) t(cell, centroid)),
surv AS (SELECT list(cell ORDER BY cell) AS cells,
         list(centroid ORDER BY cell) AS cents2
         FROM clit WHERE cell NOT IN (SELECT cell FROM cold)),
mem AS (SELECT a0.* FROM a0 WHERE cell IN (SELECT cell FROM cold)),
moved AS (
  SELECT mem.cell, mem.dist,
         CAST(surv.cells[list_position({sub_dists}, list_min({sub_dists}))]
              AS BIGINT) AS dest,
         CAST(list_min({sub_dists}) AS DOUBLE) AS dist_new
  FROM mem CROSS JOIN surv
)
SELECT CAST(cell AS BIGINT) AS cell,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM({micro6_sql('dist')}) AS DOUBLE) / 1000000.0 / COUNT(*)
         AS obj_before,
       CAST(SUM({micro6_sql('dist_new')}) AS DOUBLE) / 1000000.0 / COUNT(*)
         AS obj_after,
       CAST(COUNT(DISTINCT dest) AS BIGINT) AS n_dest_cells
FROM moved GROUP BY cell
"""


# --- maintained-index search end-to-end (round 12) -----------------------------
#
# The lifecycle ops above each ATTEST on the index relation
# (compact/split/merge audits); nothing yet proved that a QUERY over
# the maintained physical artifact equals the search you would get on
# the surviving vectors — the composition a production index exists
# for (reference analogue: receiver/dscache.go:1 — reads always go
# through the maintained cache, never around it). These functions
# close that loop: the codebook lives IN the index directory
# (index_dir/codebook, (cell, centroid) parquet) and is updated by
# every maintenance step, and ann_ivf_search_index routes queries
# through the CURRENT codebook over the CURRENT physical cells — so
# tombstone → compact → split → merge → search is one artifact's
# lifetime, checked end-to-end by the registered query's DuckDB twin
# (which replays the whole chain relationally on the live vectors).


def _ivf_codebook_write(spark, index_dir: str, rows) -> None:
    """Overwrite index_dir/codebook with (cell, centroid) rows —
    always a <=O(k) literal list, the index's routing metadata."""
    literal_df(spark,
        [(int(c), [float(x) for x in v]) for c, v in rows],
        "cell long, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/codebook")


def _ivf_codebook_rows(spark, index_dir: str) -> list:
    """Read the routing codebook back as a sorted (cell, centroid)
    list — a <=k-row bounded collect (codebook-scale, like the
    compaction audit)."""
    return sorted(
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in spark.read.parquet(f"{index_dir}/codebook").collect()
    )


def ann_ivf_index_write_full(
    spark, index_dir: str, emb: DataFrame, k: int = IVF_CODEBOOK_K, seed: int = 7
) -> None:
    """ann_ivf_index_write plus the routing codebook: the complete
    physical index artifact the maintenance steps below keep
    consistent (cells AND the codebook that routes into them)."""
    ann_ivf_index_write(spark, index_dir, emb, k, seed)
    cents = _ivf_codebook(k, seed=seed)
    _ivf_codebook_write(
        spark, index_dir, [(i + 1, c) for i, c in enumerate(cents)]
    )


def ann_ivf_split_cells(
    spark,
    index_dir: str,
    factor: float = SPLIT_FACTOR,
    mod: int = TOMB_MOD,
) -> list[tuple[int, int]]:
    """The standalone phase-complete split: consult the artifact's
    codebook, split, re-publish the codebook (see _split_cells_core
    for the mechanics). Chained callers use ann_ivf_split_merge_cells
    to share the read and fuse the two codebook rewrites into one."""
    cb = _ivf_codebook_rows(spark, index_dir)
    pairs, new_cb = _split_cells_core(spark, index_dir, cb, factor, mod)
    if pairs:
        _ivf_codebook_write(spark, index_dir, sorted(new_cb))
    return pairs


def _split_cells_core(
    spark,
    index_dir: str,
    cb: list,
    factor: float = SPLIT_FACTOR,
    mod: int = TOMB_MOD,
) -> tuple[list[tuple[int, int]], list]:
    """PHYSICAL hot-cell split: ann_ivf_split's bisecting-2-means
    executed against the index directory. Cells whose LIVE member
    count exceeds factor x the even share (n_live / |codebook|) are
    split: live members seed by vec_id parity, one Lloyd step fits
    two sub-centroids, members re-assign to the nearer one; side-a
    keeps the old cell id, side-b gets a fresh id (max codebook id +
    rank of the hot cell). The affected partitions are rewritten in
    ONE dynamic-partition-overwrite job (hot cells' tombstones drop
    with the rewrite — a free compaction); untouched cells' files are
    never touched; the codebook is rewritten to match (by the public
    wrapper, or ONCE for the whole chain by split_merge — round 13).
    Returns ((old_cell, new_cell) pairs, the post-split codebook rows).

    Scale: counts/codebook are <=k-row bounded collects; the member
    scan touches hot cells' partitions only (partition-pruned isin);
    the rewrite rows are persist-fenced before overwriting their own
    source partitions. Determinism: micro6 sub-centroid means,
    left-fold distances, argmin ties to the lower parity."""
    cells_dir = f"{index_dir}/cells"
    kk = len(cb)
    live = ann_ivf_index_live(spark, index_dir, mod).persist()
    # the per-cell count collect evaluates every partition of live into
    # the cache, so it doubles as the fence (live feeds the member
    # scan) — one job instead of a count job plus a collect job
    per = {
        int(r["cell"]): int(r["cnt"])
        for r in live.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n = sum(per.values())
    hot = sorted(c for c, _ in cb if per.get(c, 0) > factor * n / kk)
    if not hot:
        live.unpersist()
        return [], list(cb)
    maxc = max(c for c, _ in cb)
    newid = {c: maxc + i + 1 for i, c in enumerate(hot)}
    mem = (
        live.where(F.col("cell").isin(hot))
        .withColumn("p", (F.col("vec_id") % 2).cast("bigint"))
        .persist()
    )
    # no explicit fence count: the sc.collect() below scans every mem
    # partition (posexplode over the whole relation) and so populates
    # the cache before the re-assign join reads it
    sc = _lloyd_cents(mem, keys=("cell", "p"))
    # <=2*|hot| rows — the new codebook entries (bounded collect);
    # taken BEFORE the partition overwrite invalidates the source
    sc_rows = [
        (int(r["cell"]), int(r["p"]), [float(x) for x in r["centroid"]])
        for r in sc.collect()
    ]
    # re-inject the COLLECTED rows as a literal instead of re-using the
    # 64-wide _lloyd_cents plan as the join's build side (optimization
    # round 12): the values are the same doubles (py4j round-trips IEEE
    # bit-exactly), but the join subtree no longer carries the wide-agg
    # plan — the split step was pure driver planning/scheduling
    # overhead on <=2|hot| rows (5.1 s -> see OPTIMIZATION_r12.md).
    # Grouping mirrors sort_array(collect_list(struct(p, centroid))):
    # per cell, ps ascending with centroids aligned.
    by_cell: dict = {}
    for c, pp, v in sorted(sc_rows):
        by_cell.setdefault(c, []).append((pp, v))
    sc1 = literal_df(spark,
        [
            (c, [pp for pp, _ in pv], [v for _, v in pv])
            for c, pv in sorted(by_cell.items())
        ],
        "cell long, ps array<bigint>, cents2 array<array<double>>",
    )
    j = mem.join(F.broadcast(sc1), "cell").select(
        "cell", "vec_id", "embedding", "ps",
        _sq_dists(F.col("cents2")).alias("sd"),
    )
    side = F.element_at(
        F.col("ps"), F.array_position(F.col("sd"), F.array_min("sd")).cast("int")
    )
    mapdf = literal_df(spark,
        [(int(c), int(newid[c])) for c in hot], "cell long, ncell long"
    )
    out = (
        j.select("cell", "vec_id", "embedding", side.alias("side"))
        .join(F.broadcast(mapdf), "cell")
        .select(
            "vec_id",
            "embedding",
            F.when(F.col("side") == 0, F.col("cell"))
            .otherwise(F.col("ncell"))
            .cast("bigint")
            .alias("cell"),
        )
        .persist()
    )
    # the distinct-collect doubles as the materialization fence (it
    # evaluates every partition into the cache BEFORE the overwrite
    # reads them) — one job instead of a count job plus a collect job
    written = {
        int(r["cell"]) for r in out.select("cell").distinct().collect()
    }
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(cells_dir)
    )
    # a hot cell whose live members all landed on side b wrote no rows
    # under its old id: dynamic overwrite never cleared that partition,
    # so retire the stale directory explicitly (same discipline as the
    # compaction's zero-live branch)
    stale = [c for c in hot if c not in written]
    if stale:
        from ..streaming.catalog import _fs

        for c in stale:
            fs, p, _ = _fs(spark, f"{cells_dir}/cell={c}")
            if fs.exists(p):
                fs.delete(p, True)
    new_cb = [(c, v) for c, v in cb if c not in set(hot)] + [
        (c if p == 0 else newid[c], v) for c, p, v in sc_rows
    ]
    out.unpersist()
    mem.unpersist()
    live.unpersist()
    return [(c, newid[c]) for c in hot], new_cb


def ann_ivf_merge_cells(
    spark,
    index_dir: str,
    frac: float = MERGE_FRAC,
    mod: int = TOMB_MOD,
) -> list[int]:
    """The standalone phase-complete merge: consult the artifact's
    codebook, merge, re-publish the codebook (see _merge_cells_core)."""
    cb = _ivf_codebook_rows(spark, index_dir)
    cold, surv_rows = _merge_cells_core(spark, index_dir, cb, frac, mod)
    if cold:
        _ivf_codebook_write(spark, index_dir, surv_rows)
    return cold


def ann_ivf_split_merge_cells(
    spark,
    index_dir: str,
    factor: float = SPLIT_FACTOR,
    frac: float = MERGE_FRAC,
    mod: int = TOMB_MOD,
) -> tuple[list[tuple[int, int]], list[int]]:
    """Split then merge as ONE maintenance transaction (optimization
    round 13, r12 VERDICT Next 4): the chained lifecycle paid four
    codebook parquet round-trips back-to-back — split read + write,
    then merge read + write of the SAME rows — and each read/write is
    a driver job plus a commit. Here the codebook is read once, the
    post-split rows flow to the merge phase in memory, and the FINAL
    codebook is published once; the CELLS rewrites still execute
    per phase against the artifact directory (merge's live counts
    consult the post-split physical cells), and the final on-disk
    state — cells and codebook — is byte-identical to running the two
    standalone phases sequentially."""
    cb = _ivf_codebook_rows(spark, index_dir)
    pairs, cb1 = _split_cells_core(spark, index_dir, cb, factor, mod)
    cb1 = sorted(cb1)
    cold, surv_rows = _merge_cells_core(spark, index_dir, cb1, frac, mod)
    final = surv_rows if cold else cb1
    if pairs or cold:
        _ivf_codebook_write(spark, index_dir, final)
    return pairs, cold


def _merge_cells_core(
    spark,
    index_dir: str,
    cb: list,
    frac: float = MERGE_FRAC,
    mod: int = TOMB_MOD,
) -> tuple[list[int], list]:
    """PHYSICAL cold-cell merge: ann_ivf_merge's retirement executed
    against the index directory. Every codebook cell whose LIVE
    member count is under frac x the even share (cells with zero
    members included — empty routing slots are the coldest) retires:
    its live members re-assign to the nearest SURVIVING centroid, the
    destination partitions are rewritten once (existing physical rows
    + adopted members) under dynamic partition overwrite, the cold
    cells' directories are deleted (their tombstones die with them),
    and the codebook drops the retired rows. At least one cell always
    survives (not every cell can be below the mean share for
    frac <= 1). Returns the retired cell ids (sorted).

    Scale: bounded collects only (<=k codebook rows, <=k per-cell
    counts, <=k distinct destinations); the adopted-member re-assign
    is cold-partition-pruned and argmins against ONE broadcast
    survivor row; the rewrite touches destination partitions only.
    Returns (retired cell ids sorted, surviving codebook rows) — the
    public wrapper (or split_merge, once per chain) publishes the
    codebook."""
    cells_dir = f"{index_dir}/cells"
    kk = len(cb)
    idx = spark.read.parquet(cells_dir)
    live = idx.where(F.col("vec_id") % mod != 0).persist()
    # the per-cell count collect evaluates every partition of live into
    # the cache, so it doubles as the fence (live feeds the member scan
    # and the dest rows) — one job instead of a count job plus a
    # collect job; n is the sum of the per-cell counts
    per = {
        int(r["cell"]): int(r["cnt"])
        for r in live.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n = sum(per.values())
    cold = sorted(c for c, _ in cb if per.get(c, 0) < frac * n / kk)
    if not cold:
        live.unpersist()
        return [], list(cb)
    surv_rows = [(c, v) for c, v in cb if c not in set(cold)]
    # one-row broadcast side built as a DRIVER literal: cb is already
    # cell-sorted, so the (cells, cents2) row equals the old
    # sort_array(collect_list(struct)) agg without paying a job for it
    surv = literal_df(spark,
        [([c for c, _ in surv_rows], [v for _, v in surv_rows])],
        "cells array<bigint>, cents2 array<array<double>>",
    )
    moved = (
        live.where(F.col("cell").isin(cold))
        .crossJoin(F.broadcast(surv))
        .select(
            "vec_id", "embedding", "cells", _sq_dists(F.col("cents2")).alias("sd")
        )
        .select(
            "vec_id",
            "embedding",
            F.element_at(
                F.col("cells"),
                F.array_position(F.col("sd"), F.array_min("sd")).cast("int"),
            )
            .cast("bigint")
            .alias("cell"),
        )
        .persist()
    )
    dests = sorted(
        int(r["cell"]) for r in moved.select("cell").distinct().collect()
    )
    # destination partitions rewrite as existing PHYSICAL rows (their
    # tombstones keep riding until compaction) + adopted live members
    out = (
        idx.where(F.col("cell").isin(dests))
        .select("vec_id", "embedding", F.col("cell").cast("bigint").alias("cell"))
        .unionByName(moved)
        .persist()
    )
    out.count()  # materialize before overwriting its own source partitions
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(cells_dir)
    )
    from ..streaming.catalog import _fs

    for c in cold:
        fs, p, _ = _fs(spark, f"{cells_dir}/cell={c}")
        if fs.exists(p):
            fs.delete(p, True)
    out.unpersist()
    moved.unpersist()
    live.unpersist()
    return cold, surv_rows


def ann_ivf_search_index(
    spark,
    index_dir: str,
    n_queries: int = 10,
    k: int = 10,
    nprobe: int = 4,
    mod: int = TOMB_MOD,
) -> DataFrame:
    """(query_id, neighbor_id, dist, rank): IVF search THROUGH the
    maintained physical artifact — routing via the CURRENT codebook
    parquet, candidates from the CURRENT cell partitions (tombstone
    read-mask applied), exact L2 over the probed lists. Queries are
    the live index rows with vec_id < n_queries (reads go through the
    cache, never around it). With nprobe >= |codebook| this is
    EXACTLY brute-force over the surviving vectors regardless of how
    maintenance reshaped the cells — the pytest pins that equality
    after a full compact -> split -> merge chain.

    Scale: the codebook collapses to one broadcast row; the probe
    relation is n_queries x nprobe rows and its cell set becomes a
    STATIC partition-pruning filter on the cells scan (only probed
    inverted lists are read — the point of IVF); the per-candidate
    work is one left-fold L2. Ties to (dist, lower cell position) for
    probes and (dist, lower neighbor_id) for ranks."""
    live = ann_ivf_index_live(spark, index_dir, mod)
    q = live.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return ann_ivf_search_index_q(spark, index_dir, q, k, nprobe, mod)


def ann_ivf_search_index_q(
    spark,
    index_dir: str,
    q: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    mod: int = TOMB_MOD,
) -> DataFrame:
    """The probe-and-scan core of ann_ivf_search_index with an
    EXTERNAL query relation (query_id, qv) — the consult path a
    streaming deployment calls per micro-batch of arriving queries
    (streaming/ivfsearch.py)."""
    from pyspark.sql import Window

    # probe routing runs on the DRIVER (optimization round 12): the
    # query relation is n_queries rows and the codebook <=k rows — both
    # bounded collects — and the old shape paid a broadcast-build job
    # for the codebook one-row agg, a window job for the probe ranks, a
    # persist fence, and a distinct collect, all on tiny relations.
    # The Python arithmetic replicates the Catalyst fold bit-exactly:
    # per element t=(x-y)*(x-y) then acc=acc+t in index order (qv
    # floats widen exactly to double on collect; centroids are already
    # double; py4j round-trips IEEE doubles exactly), and the probe
    # pick sorts by (dist, pos) exactly as the old row_number window.
    # The final candidate distances stay in Spark, unchanged.
    cb = _ivf_codebook_rows(spark, index_dir)  # cell-sorted, like the old sort_array
    q_rows = sorted(
        (int(r["query_id"]), [float(x) for x in r["qv"]]) for r in q.collect()
    )
    probe_rows = []
    probed_set = set()
    for qid, qv in q_rows:
        dists = []
        for pos, (cell, cent) in enumerate(cb):
            acc = 0.0
            for x, y in zip(qv, cent):
                t = (x - y) * (x - y)
                acc = acc + t
            dists.append((acc, pos, cell))
        dists.sort(key=lambda t3: (t3[0], t3[1]))
        for _, _, cell in dists[:nprobe]:
            probe_rows.append((qid, qv, cell))
            probed_set.add(cell)
    live = ann_ivf_index_live(spark, index_dir, mod)
    probes = literal_df(spark,
        probe_rows, "query_id long, qv array<double>, cell long"
    )
    # the probed-cell set becomes a static partition filter so only
    # those inverted lists are read
    probed = sorted(probed_set)
    cand = (
        F.broadcast(probes)
        .join(
            live.where(F.col("cell").isin(probed)).select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("cv"),
                F.col("cell").cast("bigint").alias("cell"),
            ),
            "cell",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    exact = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("cv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = cand.select("query_id", "neighbor_id", exact.alias("dist"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", F.col("rank").cast("bigint"))
    )


def ann_ivf_search_maintained_sql(
    kcb: int = IVF_CODEBOOK_K,
    seed: int = 7,
    mod: int = TOMB_MOD,
    factor: float = SPLIT_FACTOR,
    frac: float = MERGE_FRAC,
    n_queries: int = 10,
    k: int = 10,
    nprobe: int = 4,
) -> str:
    """DuckDB twin of the FULL maintained-index lifecycle: tombstone
    filter (compaction never changes the live view, so it needs no
    relational model), hot-cell split on the live counts, cold-cell
    merge on the post-split codebook, then the probe-routed search
    against the final codebook + assignment — the end-to-end proof
    that a query through the maintained artifact equals the chain
    replayed on the surviving vectors."""
    cents = _ivf_codebook(kcb, seed=seed)
    dim = EMB_DIM
    cells_lit = ", ".join(
        "(%d, %s)" % (i + 1, "[" + ", ".join(repr(float(x)) for x in c) + "]")
        for i, c in enumerate(cents)
    )
    sum_cols = ", ".join(
        f"SUM(CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS s{i}"
        for i in range(dim)
    )
    cent_arr = (
        "["
        + ", ".join(f"CAST(s{i} AS DOUBLE) / 1000000.0 / cnt" for i in range(dim))
        + "]"
    )
    sd_mem = _ivf_dists_sql(vec="mem.embedding", cs="sc.cents2")
    sd_cold = _ivf_dists_sql(vec="cm.embedding", cs="surv.cents2")
    sd_q = _ivf_dists_sql(vec="q.qv", cs="surv.cents2")
    pair = "(CAST(p.qv[i] AS DOUBLE) - CAST(f.embedding[i] AS DOUBLE))"
    exact = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        f"i -> {pair} * {pair})), (acc, x) -> acc + x)"
    )
    return f"""
WITH {_ivf_cents_cte(cents)},
clit AS (SELECT * FROM (VALUES {cells_lit}) t(cell, centroid)),
live AS (SELECT * FROM embeddings WHERE vec_id % {mod} <> 0),
d0 AS (SELECT vec_id, embedding, {_ivf_dists_sql()} AS dists
       FROM live CROSS JOIN ivfk),
a0 AS (SELECT vec_id, embedding,
       CAST(list_position(dists, list_min(dists)) AS BIGINT) AS cell FROM d0),
tot AS (SELECT COUNT(*) AS n FROM a0),
cnt0 AS (SELECT cell, COUNT(*) AS cnt FROM a0 GROUP BY cell),
hot AS (SELECT clit.cell FROM clit LEFT JOIN cnt0 ON clit.cell = cnt0.cell
        CROSS JOIN tot
        WHERE COALESCE(cnt0.cnt, 0) > {float(factor)!r} * n / {int(kcb)}),
hotmap AS (SELECT cell,
           {int(kcb)} + CAST(ROW_NUMBER() OVER (ORDER BY cell) AS BIGINT)
           AS ncell FROM hot),
mem AS (SELECT a0.*, CAST(vec_id % 2 AS BIGINT) AS p
        FROM a0 WHERE cell IN (SELECT cell FROM hot)),
sums AS (SELECT cell, p, COUNT(*) AS cnt, {sum_cols} FROM mem GROUP BY cell, p),
nc AS (SELECT cell, p, {cent_arr} AS centroid FROM sums),
sc AS (SELECT cell, list(p ORDER BY p) AS ps,
       list(centroid ORDER BY p) AS cents2 FROM nc GROUP BY cell),
sassign AS (
  SELECT mem.vec_id, mem.embedding,
         CASE WHEN sc.ps[list_position({sd_mem}, list_min({sd_mem}))] = 0
              THEN mem.cell ELSE hm.ncell END AS cell
  FROM mem JOIN sc ON mem.cell = sc.cell JOIN hotmap hm ON mem.cell = hm.cell
  UNION ALL
  SELECT vec_id, embedding, cell FROM a0
  WHERE cell NOT IN (SELECT cell FROM hot)
),
cb1 AS (
  SELECT cell, centroid FROM clit WHERE cell NOT IN (SELECT cell FROM hot)
  UNION ALL
  SELECT CASE WHEN nc.p = 0 THEN nc.cell ELSE hm.ncell END AS cell, nc.centroid
  FROM nc JOIN hotmap hm ON nc.cell = hm.cell
),
k1 AS (SELECT COUNT(*) AS kk FROM cb1),
cnt1 AS (SELECT cell, COUNT(*) AS cnt FROM sassign GROUP BY cell),
cold AS (SELECT cb1.cell FROM cb1 LEFT JOIN cnt1 ON cb1.cell = cnt1.cell
         CROSS JOIN k1 CROSS JOIN tot
         WHERE COALESCE(cnt1.cnt, 0) < {float(frac)!r} * n / kk),
surv AS (SELECT list(cell ORDER BY cell) AS cells,
         list(centroid ORDER BY cell) AS cents2
         FROM cb1 WHERE cell NOT IN (SELECT cell FROM cold)),
cm AS (SELECT * FROM sassign WHERE cell IN (SELECT cell FROM cold)),
moved AS (SELECT cm.vec_id, cm.embedding,
          CAST(surv.cells[list_position({sd_cold}, list_min({sd_cold}))]
               AS BIGINT) AS cell
          FROM cm CROSS JOIN surv),
final AS (SELECT vec_id, embedding, cell FROM sassign
          WHERE cell NOT IN (SELECT cell FROM cold)
          UNION ALL SELECT vec_id, embedding, cell FROM moved),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM live
      WHERE vec_id < {int(n_queries)}),
qd AS (SELECT query_id, qv, surv.cells AS cells, {sd_q} AS dists
       FROM q CROSS JOIN surv),
qx AS (SELECT query_id, qv, UNNEST(cells) AS cell, UNNEST(dists) AS cdist,
       UNNEST(range(1, len(cells) + 1)) AS pos FROM qd),
probes AS (SELECT query_id, qv, CAST(cell AS BIGINT) AS cell FROM
  (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY cdist ASC, pos ASC) AS pr FROM qx)
  WHERE pr <= {int(nprobe)}),
cand AS (SELECT p.query_id, f.vec_id AS neighbor_id, {exact} AS dist
         FROM probes p JOIN final f ON p.cell = f.cell
         WHERE p.query_id <> f.vec_id)
SELECT query_id, neighbor_id, CAST(dist AS DOUBLE) AS dist,
       CAST(rank AS BIGINT) AS rank FROM
  (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY dist ASC, neighbor_id ASC) AS rank FROM cand)
  WHERE rank <= {int(k)}
"""


# --- SemDeDup: cluster-bucketed semantic dedup (round 12) ----------------------

SEMDEDUP_THRESHOLD = 0.4

# Within-cell pair joins are Σ|cell|² work keyed by cell alone — one
# hot cell is one straggler task at corpus scale (guide §2.5; AQE's
# skew split cannot divide a single key). The joins below therefore
# sub-bucket the LEFT side by a deterministic hash salt and replicate
# the right side SEMDEDUP_SUBBUCKETS ways, so a hot cell's pairwise
# work spreads over SUBBUCKETS tasks. Every (a, b) pair still meets
# exactly once (b's replica s joins a's rows with salt(a) = s), so the
# pair SET — and everything downstream — is unchanged at any bucket
# count; the constant trades right-side duplication (k× shuffle rows)
# for an S× smaller worst task, independent of local core count.
SEMDEDUP_SUBBUCKETS = 8


def _salted(id_col: str, n: int = None) -> "F.Column":
    """Sub-bucket id for the LEFT side of a within-cell pair join:
    pmod(xxhash64(id), SUBBUCKETS) — deterministic under retries
    (derived from the row's own id, never rand())."""
    n = SEMDEDUP_SUBBUCKETS if n is None else n
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n)).cast("int")


def _replicas(n: int = None) -> "F.Column":
    """The RIGHT side's replica ids: explode([0..SUBBUCKETS-1])."""
    n = SEMDEDUP_SUBBUCKETS if n is None else n
    return F.explode(F.array(*[F.lit(i) for i in range(n)]))


def dedup_semdedup(
    emb: DataFrame,
    k: int = IVF_CODEBOOK_K,
    seed: int = 7,
    threshold: float = SEMDEDUP_THRESHOLD,
) -> DataFrame:
    """(vec_id, cell, root_id, cent_sim, is_keeper): SemDeDup (Abbas
    et al. 2023, arXiv:2303.09540) — the PUBLISHED k-means-bucketed
    semantic dedup, the third candidate-generation geometry next to
    the exact-pair baseline (dedup_embedding) and the LSH path
    (dedup_embedding_cluster): vectors assign to k-means cells (the
    shared fixed IVF codebook), near-duplicate pairs are searched
    WITHIN cells only (the paper's cost bound: pairwise work is
    per-cluster, never corpus-wide), duplicate groups are the
    connected components of the within-cell pair graph, and each
    group keeps the member with the LOWEST cosine similarity to its
    cluster centroid — the paper's keep-the-outlier rule (the point
    nearest the centroid is the most redundant with the cluster's
    mass; keeping the farthest preserves diversity). Singletons keep
    themselves.

    Scale: assignment is the map-only broadcast-argmin pass; the pair
    join is cell-bucketed (shuffle key = cell); components run on the
    pair relation via the shared propagate_components engine; the
    keeper window partitions by root_id (groups are near-dup-sized).
    The cost law is the paper's: SUM over cells of |cell|^2 — at a
    FIXED k the per-cell pairwise work grows quadratically with
    corpus size (measured: 12.2x time at 10x rows with k=16; 6.3x
    with k=64 — the 10x rehearsal table in docs/NOTES_r12.md), so
    production scales k with N (the paper runs k ~ 100k at web
    scale) and fits the codebook to the data (ann_ivf_lloyd /
    ann_ivf_refit_warm — a random codebook cannot subdivide a dense
    natural cluster no matter how large k gets; a fitted one
    bisects it, which is exactly what ann_ivf_split executes).
    Determinism: left-fold dots/norms, centroid norms precomputed as
    literals with the same left fold, keeper ordering on
    micro6-quantized similarity with vec_id ties.

    Reference analogue: series/series.go:1's dedup-on-ingest keeps
    one representative per identical series; this is the semantic
    generalization the LLM-pipeline needs."""
    import math

    from pyspark.sql import Window

    from ..model import micro6
    from .dedup import propagate_components

    cents = _ivf_codebook(k, seed=seed)

    def _py_norm(c):
        acc = 0.0
        for x in c:
            acc = acc + float(x) * float(x)
        return math.sqrt(acc)

    cdf = literal_df(emb.sparkSession,
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )
    clit = literal_df(emb.sparkSession,
        [
            (i + 1, [float(x) for x in c], _py_norm(c))
            for i, c in enumerate(cents)
        ],
        "cell long, centroid array<double>, cnorm double",
    )
    a0 = (
        _spread(emb)  # the scan is 1 task locally; every fold below is per-row
        .crossJoin(F.broadcast(cdf))
        .select("vec_id", "embedding", _sq_dists(F.col("cents")).alias("dists"))
        .select(
            "vec_id",
            "embedding",
            F.array_position(F.col("dists"), F.array_min("dists"))
            .cast("bigint")
            .alias("cell"),
        )
    )
    v = (
        a0.join(F.broadcast(clit), "cell")
        .select(
            "vec_id",
            "cell",
            "embedding",
            _norm(F.col("embedding")).alias("nrm"),
            (
                _dot(F.col("embedding"), F.col("centroid"))
                / (_norm(F.col("embedding")) * F.col("cnorm"))
            ).alias("cent_sim"),
        )
        .persist()  # fence: returned plan reads this cache (pairs + labels + output join)
    )
    v.count()
    # hot-cell sub-bucketing (optimization round 13): the equi-key is
    # (cell, salt) instead of cell alone, so one dense cell's |cell|²
    # pair work splits across SEMDEDUP_SUBBUCKETS tasks; the pair set
    # is provably identical (see _salted/_replicas).
    a = v.select(
        F.col("cell").alias("ca"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
        _salted("vec_id").alias("sa"),
    )
    b = v.select(
        F.col("cell").alias("cb"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    ).select("*", _replicas().alias("sb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(
            b,
            (F.col("ca") == F.col("cb"))
            & (F.col("sa") == F.col("sb"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b", cos.alias("cos"))
        .where(F.col("cos") >= float(threshold))
    )
    lab = propagate_components(
        v.select(F.col("vec_id").alias("doc_id")),
        pairs.select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        ),
    )
    w = Window.partitionBy("root_id").orderBy(
        micro6(F.col("cent_sim")).asc(), F.col("vec_id").asc()
    )
    return (
        v.select("vec_id", "cell", "cent_sim")
        .join(lab.select(F.col("doc_id").alias("vec_id"), "root_id"), "vec_id")
        .withColumn("rk", F.row_number().over(w))
        .select(
            "vec_id",
            "cell",
            F.col("root_id").cast("bigint").alias("root_id"),
            "cent_sim",
            (F.col("rk") == 1).alias("is_keeper"),
        )
    )


def dedup_semdedup_sql(
    k: int = IVF_CODEBOOK_K,
    seed: int = 7,
    threshold: float = SEMDEDUP_THRESHOLD,
) -> str:
    import math

    from ..model import micro6_sql

    cents = _ivf_codebook(k, seed=seed)

    def _py_norm(c):
        acc = 0.0
        for x in c:
            acc = acc + float(x) * float(x)
        return math.sqrt(acc)

    cells_lit = ", ".join(
        "(%d, %s, %r)"
        % (
            i + 1,
            "[" + ", ".join(repr(float(x)) for x in c) + "]",
            _py_norm(c),
        )
        for i, c in enumerate(cents)
    )
    cdot = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        "i -> CAST(e.embedding[i] AS DOUBLE) * c.centroid[i])), "
        "(acc, x) -> acc + x)"
    )
    cos = f"({_DOT_AB_SQL}) / (a.nrm * b.nrm)"
    return f"""
WITH RECURSIVE {_ivf_cents_cte(cents)},
clit AS (SELECT * FROM (VALUES {cells_lit}) t(cell, centroid, cnorm)),
d0 AS (SELECT vec_id, {_ivf_dists_sql()} AS dists
       FROM embeddings CROSS JOIN ivfk),
a0 AS (SELECT vec_id,
       CAST(list_position(dists, list_min(dists)) AS BIGINT) AS cell FROM d0),
v AS (SELECT e.vec_id, a0.cell, e.embedding, {_NORM_SQL} AS nrm,
      {cdot} / ({_NORM_SQL} * c.cnorm) AS cent_sim
      FROM embeddings e JOIN a0 ON e.vec_id = a0.vec_id
      JOIN clit c ON a0.cell = c.cell),
p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos} >= {float(threshold)!r}),
edges AS (SELECT vec_a AS a, vec_b AS b FROM p
          UNION SELECT vec_b, vec_a FROM p),
reach AS (SELECT vec_id AS a, vec_id AS b FROM v
          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
lab AS (SELECT a AS vec_id, CAST(MIN(b) AS BIGINT) AS root_id
        FROM reach GROUP BY a)
SELECT v.vec_id, v.cell, lab.root_id, v.cent_sim,
       ROW_NUMBER() OVER (PARTITION BY lab.root_id
         ORDER BY {micro6_sql('v.cent_sim')} ASC, v.vec_id ASC) = 1
         AS is_keeper
FROM v JOIN lab ON v.vec_id = lab.vec_id
"""


# --- all-but-the-top embedding postprocessing (round 12) -----------------------


def emb_abtt(emb: DataFrame) -> DataFrame:
    """(vec_id, proj1, norm_before, norm_after): All-But-The-Top
    postprocessing (Mu & Viswanath 2018, ICLR — 'All-but-the-Top:
    Simple and Effective Postprocessing for Word Representations'):
    embedding sets share a large common mean vector and a few
    dominant directions that encode frequency, not meaning; removing
    them (v' = v - mu - (pc1 . (v - mu)) pc1, D=1 here) measurably
    improves similarity tasks. Per vector this emits the top-PC
    projection being removed and the norm before/after — the
    isotropy audit a pipeline runs before committing to the
    postprocessed store (a large norm drop = the vector was mostly
    common direction = low-information).

    Spark-first: the corpus is touched exactly TWICE — once by the
    emb_covariance explode (the shared d2-relation primitive, persist-
    fenced) and once by the output scan; mu and pc1 collapse to one
    broadcast row each; pc1 is the same fixed-2-step power iteration
    emb_power_iter2 oracles (deterministic by construction, no
    convergence loop). Centered arrays are MATERIALIZED before any
    fold (the CSE rule); all folds are index-ordered left folds."""
    # optimization round 12 (second pass): mu AND pc1 both derive from
    # the ONE Arrow partial-sum collect (_cov_full_mu_py) — the mean
    # markers the covariance pass already sums are the identical
    # dec6-quantized per-dimension sums the old posexplode mu job
    # re-aggregated from scratch, so that whole corpus-scale job
    # drops: the corpus is touched exactly twice (the Arrow covariance
    # pass + the output scan), mu/pc1 re-enter as 64-double literal
    # arrays. Bit-equal: sum(dec6(x)) as decimal == Σfloor(x·1e6+0.5)
    # / 1e6 exactly (both quantize with the same double arithmetic,
    # both sum exactly), and double(sum)/double(n) is the same single
    # IEEE division the old agg projected.
    full_cov, mu_row = _cov_full_mu_py(emb)
    pc1v, _, _ = _power_iter2_py(full_cov)
    dnull = F.lit(None).cast("double")
    mu_lit = F.array(
        *[F.lit(v) if v is not None else dnull for v in mu_row]
    )
    pc1_lit = F.array(
        *[F.lit(v) if v is not None else dnull for v in pc1v]
    )
    cen = emb.select(
        "vec_id",
        F.zip_with(
            "embedding", mu_lit, lambda x, y: x.cast("double") - y
        ).alias("cen"),
        pc1_lit.alias("pc1"),
    )
    proj = F.aggregate(
        F.zip_with("cen", "pc1", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    withp = cen.select("vec_id", "cen", "pc1", proj.alias("proj1"))
    nb = F.sqrt(
        F.aggregate(
            F.transform(F.col("cen"), lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    na = F.sqrt(
        F.aggregate(
            F.zip_with(
                "cen",
                "pc1",
                lambda x, y: (x - F.col("proj1") * y)
                * (x - F.col("proj1") * y),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return withp.select(
        "vec_id",
        "proj1",
        nb.alias("norm_before"),
        na.alias("norm_after"),
    )


def emb_abtt_sql() -> str:
    from ..model import dec6_sql

    fold = "list_reduce(list_prepend(0.0, {l}), (a, x) -> a + x)"
    d = EMB_DIM
    mu_el = f"CAST(embedding[CAST(r.i AS INTEGER)] AS DOUBLE)"
    return f"""
WITH p2 AS ({emb_power_iter2_sql()}),
pc1l AS (SELECT list(v2 ORDER BY i ASC) AS pc1 FROM p2),
mul AS (SELECT list(m ORDER BY mi ASC) AS mu FROM (
  SELECT CAST(r.i AS INTEGER) AS mi,
         CAST(SUM({dec6_sql(mu_el)}) AS DOUBLE) / COUNT(*) AS m
  FROM embeddings, range(1, {d + 1}) r(i) GROUP BY r.i)),
cen AS (SELECT vec_id,
        list_transform(range(1, {d + 1}),
          i -> CAST(embedding[i] AS DOUBLE) - mu[i]) AS cen, pc1
        FROM embeddings CROSS JOIN mul CROSS JOIN pc1l),
withp AS (SELECT vec_id, cen, pc1,
  {fold.format(l=f"list_transform(range(1, {d + 1}), i -> cen[i] * pc1[i])")}
  AS proj1 FROM cen)
SELECT vec_id, proj1,
  SQRT({fold.format(l=f"list_transform(range(1, {d + 1}), i -> cen[i] * cen[i])")})
    AS norm_before,
  SQRT({fold.format(l=f"list_transform(range(1, {d + 1}), i -> (cen[i] - proj1 * pc1[i]) * (cen[i] - proj1 * pc1[i]))")})
    AS norm_after
FROM withp
"""


# --- incremental SemDeDup: the embedding-side crawl loop (round 12) ------------


def dedup_semdedup_increment(
    emb: DataFrame,
    k: int = IVF_CODEBOOK_K,
    seed: int = 7,
    threshold: float = SEMDEDUP_THRESHOLD,
    mod: int = 5,
) -> DataFrame:
    """(vec_id, cell, dup_corpus, dup_increment, keep): incremental
    SemDeDup — the EMBEDDING twin of dedup_incremental's crawl
    convention: the corpus (vec_id % mod != 0) is already indexed;
    the increment (vec_id % mod == 0) arrives and each new vector is
    checked for semantic near-duplicates WITHIN ITS CELL against (a)
    the corpus and (b) earlier increment vectors. The increment-side
    flag is a pure id rule (partner.vec_id < self.vec_id — the
    min-id-keeper convention), which is exactly what makes the
    STREAMING deployment equal this batch relation under ordered
    arrival and replay-safe (a batch re-scored against an index
    already containing its own vectors classifies identically).

    Scale: one shared assignment pass; the pair join is cell-bucketed
    with the increment side 1/mod of the corpus; flags are two maxes
    per increment vector. Determinism: left-fold dots/norms, exact
    boolean algebra."""
    cents = _ivf_codebook(k, seed=seed)
    cdf = literal_df(emb.sparkSession,
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )
    a = (
        _spread(emb).crossJoin(F.broadcast(cdf))
        .select("vec_id", "embedding", _sq_dists(F.col("cents")).alias("dists"))
        .select(
            "vec_id",
            "embedding",
            F.array_position(F.col("dists"), F.array_min("dists"))
            .cast("bigint")
            .alias("cell"),
            _norm(F.col("embedding")).alias("nrm"),
        )
        .persist()  # fence: returned plan reads this cache (both join sides)
    )
    a.count()
    inc = F.col("vec_id") % mod == 0
    q = a.where(inc).select(
        F.col("cell").alias("cq"),
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    # hot-cell sub-bucketing (optimization round 13) — the same
    # (cell, salt) equi-key as dedup_semdedup's pair join: the
    # increment side carries its own salt, the corpus side replicates
    # SUBBUCKETS ways, every (q, p) pair still meets exactly once.
    p = a.select(
        F.col("cell").alias("cp"),
        F.col("vec_id").alias("pid"),
        F.col("embedding").alias("pv"),
        F.col("nrm").alias("pn"),
    ).select("*", _replicas().alias("sp"))
    cos = _dot(F.col("qv"), F.col("pv")) / (F.col("qn") * F.col("pn"))
    hits = (
        q.select("*", _salted("qid").alias("sq"))
        .join(
            p,
            (F.col("cq") == F.col("cp"))
            & (F.col("sq") == F.col("sp"))
            & (F.col("qid") != F.col("pid")),
        )
        .where(cos >= float(threshold))
        .select(
            "qid",
            (F.col("pid") % mod != 0).alias("p_corpus"),
            ((F.col("pid") % mod == 0) & (F.col("pid") < F.col("qid"))).alias(
                "p_prior_inc"
            ),
        )
        .groupBy("qid")
        .agg(
            F.max(F.col("p_corpus").cast("int")).alias("dc"),
            F.max(F.col("p_prior_inc").cast("int")).alias("di"),
        )
    )
    return (
        a.where(inc)
        .select("vec_id", "cell")
        .join(hits, F.col("vec_id") == F.col("qid"), "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("dc", F.lit(0)).cast("bigint").alias("dup_corpus"),
            F.coalesce("di", F.lit(0)).cast("bigint").alias("dup_increment"),
            (
                (F.coalesce("dc", F.lit(0)) == 0)
                & (F.coalesce("di", F.lit(0)) == 0)
            )
            .cast("bigint")
            .alias("keep"),
        )
    )


def dedup_semdedup_increment_sql(
    k: int = IVF_CODEBOOK_K,
    seed: int = 7,
    threshold: float = SEMDEDUP_THRESHOLD,
    mod: int = 5,
) -> str:
    cents = _ivf_codebook(k, seed=seed)
    cos = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        "i -> CAST(q.qv[i] AS DOUBLE) * CAST(p.pv[i] AS DOUBLE))), "
        "(acc, x) -> acc + x) / (q.qn * p.pn)"
    )
    return f"""
WITH {_ivf_cents_cte(cents)},
d0 AS (SELECT vec_id, embedding, {_NORM_SQL} AS nrm,
       {_ivf_dists_sql()} AS dists FROM embeddings CROSS JOIN ivfk),
a AS (SELECT vec_id, embedding, nrm,
      CAST(list_position(dists, list_min(dists)) AS BIGINT) AS cell FROM d0),
q AS (SELECT cell AS cq, vec_id AS qid, embedding AS qv, nrm AS qn
      FROM a WHERE vec_id % {mod} = 0),
p AS (SELECT cell AS cp, vec_id AS pid, embedding AS pv, nrm AS pn FROM a),
hits AS (
  SELECT qid,
         MAX(CASE WHEN pid % {mod} <> 0 THEN 1 ELSE 0 END) AS dc,
         MAX(CASE WHEN pid % {mod} = 0 AND pid < qid THEN 1 ELSE 0 END) AS di
  FROM q JOIN p ON cq = cp AND qid <> pid
  WHERE {cos} >= {float(threshold)!r}
  GROUP BY qid
)
SELECT a.vec_id, a.cell,
       CAST(COALESCE(dc, 0) AS BIGINT) AS dup_corpus,
       CAST(COALESCE(di, 0) AS BIGINT) AS dup_increment,
       CAST(CASE WHEN COALESCE(dc, 0) = 0 AND COALESCE(di, 0) = 0
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM a LEFT JOIN hits ON a.vec_id = hits.qid
WHERE a.vec_id % {mod} = 0
"""


# --- one-row isotropy audit (round 12) -----------------------------------------


def emb_isotropy(emb: DataFrame) -> DataFrame:
    """(trace, lambda1_est, top_share): the one-row isotropy audit
    that tells a pipeline whether emb_abtt's postprocessing is worth
    running — top_share = lambda1/trace is the fraction of total
    variance captured by the dominant direction (isotropic embeddings
    ~1/d; frequency-dominated embedding sets concentrate 30-60% in
    one direction, the pathology Mu & Viswanath 2018 correct).
    lambda1 is the same fixed-2-step power-iteration Rayleigh
    quotient emb_power_iter2 oracles; trace folds the covariance
    diagonal in index order (64 bounded rows — the sorted-array fold
    rule, never an unordered double sum).

    Scale (optimization round 12): ONE corpus pass — the Arrow
    partial-sum covariance (bit-equal to the declarative explode) —
    then the d²-bounded collect + driver-IEEE power iterate shared
    with emb_pca2_deflate (same fold orders, same bits; 6.3 s → ~1.5 s
    at sf0.1 by dropping the ~15 tiny broadcast-build stages)."""
    full, _ = _cov_full_mu_py(emb)
    trace = 0.0
    for i in range(1, EMB_DIM + 1):
        trace = trace + full[(i, i)]
    _, _, lam1 = _power_iter2_py(full)
    top = lam1 / trace if (lam1 is not None and trace > 0) else None
    return literal_df(emb.sparkSession,
        [(trace, lam1, top)],
        "trace double, lambda1_est double, top_share double",
    )


def emb_isotropy_sql() -> str:
    fold = "list_reduce(list_prepend(0.0, {l}), (a, x) -> a + x)"
    return f"""
WITH p2 AS ({emb_power_iter2_sql()}),
lam AS (SELECT rayleigh AS lambda1_est FROM p2 WHERE i = 1),
covd AS ({emb_covariance_sql()}),
tr AS (SELECT {fold.format(l="list(cov ORDER BY i ASC)")} AS trace
       FROM covd WHERE i = j)
SELECT trace, lambda1_est,
       CASE WHEN trace > 0 THEN lambda1_est / trace END AS top_share
FROM tr CROSS JOIN lam
"""
