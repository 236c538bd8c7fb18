"""Similarity search over the embeddings table (array<float> column).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant (random hyperplane signs -> bucket equi-join) is the scale path:
at 10^12 rows the all-pairs score is infeasible, but hyperplane LSH
keeps the same DataFrame shape — bucket key join + per-bucket rescore.

Vector math (r6): the dot/norm/plane-sign expressions used to be Spark
higher-order functions (F.aggregate/zip_with/transform) — CodegenFallback,
i.e. per-row per-element interpreted evaluation, the exact pattern the
engine's own zorder measurement showed 33x slower than a vectorized
Arrow UDF at 4M rows (operators/partitioning.py). They now run as
Arrow-batched numpy kernels (kernels/vec.py) that accumulate in the
SAME left-fold order over dimensions, so every score is bit-identical
and the DuckDB oracles (list_* free, explicit unnest arithmetic in
double precision, rounded before comparison) hash-match unchanged.
The expression forms are kept below (_dot/_norm/_signed_dot) as the
executable spec the kernel tests cross-check against.

Bounded driver transfers only: a 1-row query vector, n_cents centroid
rows, n_cents x dims k-means partials — never anything that scales
with the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernels import vec as veck


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _dot(a, b):
    """Expression-form reference (interpreted HOF — see module doc;
    query paths use the bit-identical kernels/vec.py twins)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    """Expression-form reference — see _dot."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _null_element(emb):
    """True where embedding column `emb` holds a null ELEMENT (null
    for a null embedding). Arrow->pandas turns such an element into
    NaN, which the kernels cannot tell from a stored NaN."""
    return F.exists(emb, lambda x: x.isNull())


def _cosine_q(q_vec, emb):
    """Cosine of embedding column `emb` against the fixed query vector
    (closure — only the embedding crosses the boundary). Null in, null
    out, as zip_with propagates it: a null embedding, a null element
    in it, or a null element in the query gives a null cosine (sorted
    last), never a NaN (sorted first)."""
    q = np.asarray(q_vec, dtype=np.float64)
    q_null = any(v is None for v in q_vec)

    @F.pandas_udf("double")
    def cos(emb: pd.Series, has_null: pd.Series) -> pd.Series:
        if not len(emb):
            return pd.Series(np.zeros(0, dtype=np.float64))
        valid = (emb.notna() & ~has_null.fillna(True).astype(bool)).to_numpy() \
            & (not q_null)
        out = np.full(len(emb), np.nan, dtype=np.float64)
        if valid.any():
            A = veck.stack_embeddings(emb[valid])
            with np.errstate(divide="ignore", invalid="ignore"):
                out[valid] = veck.cosine_vs_query(A, q)
        if valid.all():
            return pd.Series(out)  # plain float64: computed NaN stays NaN
        # masked array: null in -> null out (zip_with's propagation);
        # computed NaN in unmasked slots survives the Arrow conversion
        return pd.Series(pd.arrays.FloatingArray(out, ~valid))

    return cos(emb, _null_element(emb))


def _cosine_pair(a, b):
    """Row-wise cosine of two embedding columns (pair rescoring); null
    in, null out, as in _cosine_q."""

    @F.pandas_udf("double")
    def cos2(a: pd.Series, b: pd.Series, a_null: pd.Series,
             b_null: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series(np.zeros(0, dtype=np.float64))
        valid = (a.notna() & b.notna() & ~a_null.fillna(True).astype(bool)
                 & ~b_null.fillna(True).astype(bool)).to_numpy()
        out = np.full(len(a), np.nan, dtype=np.float64)
        if valid.any():
            A = veck.stack_embeddings(a[valid])
            B = veck.stack_embeddings(b[valid])
            with np.errstate(divide="ignore", invalid="ignore"):
                out[valid] = veck.cosine_pairs(A, B)
        if valid.all():
            return pd.Series(out)
        return pd.Series(pd.arrays.FloatingArray(out, ~valid))

    return cos2(a, b, _null_element(a), _null_element(b))


def _take_query_embedding(e: DataFrame, query_id: int):
    """The 1-row bounded collect of the query vector (the broadcast twin:
    the old plan crossJoined a broadcast 1-row DataFrame; shipping the
    same floats through the UDF closure removes the join)."""
    rows = e.filter(F.col("vec_id") == query_id).select("embedding").take(1)
    if not rows or rows[0][0] is None:
        return None
    return rows[0][0]


def _empty_topk(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "vec_id bigint, cosine double")


def cosine_topk(spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = 10) -> DataFrame:
    """Top-k most-similar vectors to vec_id=query_id (brute force, exact).

    The query vector is a bounded 1-row transfer — the scan over N
    vectors is embarrassingly parallel, no shuffle until the final top-k
    (which is a TakeOrdered, not a full sort).

    Eager: building the returned DataFrame already runs a Spark job
    (the query vector's take(1)). A missing query row, or a null query
    embedding, returns an empty result."""
    return cosine_topk_df(_emb(spark, sf_dir), query_id, k)


def cosine_topk_df(e: DataFrame, query_id: int = 0, k: int = 10) -> DataFrame:
    """cosine_topk over ANY (vec_id, embedding) DataFrame — raw parquet
    or the compressed store (store_cosine_topk)."""
    q_emb = _take_query_embedding(e, query_id)
    if q_emb is None:
        return _empty_topk(e.sparkSession)
    scored = (
        e.filter(F.col("vec_id") != query_id)
        .select(
            "vec_id",
            F.round(_cosine_q(q_emb, F.col("embedding")), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


def _emb_store(spark: SparkSession, sf_dir: str) -> str:
    """Encode embeddings.parquet into the on-disk codec store once per
    sf_dir (resume-idempotent, shared by every store-backed ANN
    query); returns the snapshot dir."""
    import hashlib

    from ..operators.encode import encode_table

    out = ("/tmp/kmers_emb_store_"
           + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    encode_table(df, out, key="vec_id", num_buckets=8, detect_skew=False)
    return out


def store_cosine_topk(spark: SparkSession, sf_dir: str, query_id: int = 0,
                      k: int = 10) -> DataFrame:
    """cosine top-k reading the embeddings from the COMPRESSED store
    (VERDICT r3 #9): embeddings.parquet is encoded once (array<float>
    column via the vec_plain codec, resume-idempotent like the scan
    stores), decoded shuffle-free with column projection pushed below
    the scan (label payloads never decompress), and scored by the same
    plan as cosine_topk — proving the codec store serves the similarity
    workload end-to-end with the identical oracle hash."""
    from ..operators.decode import decode_colocated

    out = _emb_store(spark, sf_dir)
    e = decode_colocated(spark, out, columns=["vec_id", "embedding"])
    return cosine_topk_df(e, query_id, k)


def _signed_dot(emb, plane):
    """Expression-form reference of the plane-sign dot: weight(p, d) =
    +1 if (31p + 17d) % 7 < 3 else -1 (fixed, documented, seedless —
    determinism requirement from SURVEY §2.5 H4). Kernel twin:
    vec.plane_weights + vec.signed_bits."""
    return F.aggregate(
        F.transform(
            emb,
            lambda x, d: x.cast("double")
            * F.when(((plane * 31 + d * 17) % 7) < 3, F.lit(1.0)).otherwise(F.lit(-1.0)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _grouped_buckets_udf(plane_ids: list[int], group_size: int):
    """pandas_udf: embedding -> array of per-group bucket keys, group g
    covering planes plane_ids[g*group_size : (g+1)*group_size], key =
    sum of sign-bit << bit-position (exact integer math, identical to
    the old crossJoin+groupBy sum). One batch computes every plane's
    sign in numpy; the n_planes-row broadcast join, the n_planes x N
    interpreted aggregates, AND the groupBy shuffle all disappear."""
    n_groups = len(plane_ids) // group_size

    @F.pandas_udf("array<long>")
    def buckets(emb: pd.Series) -> pd.Series:
        if not len(emb):
            return pd.Series([], dtype=object)
        A = veck.stack_embeddings(emb)
        W = veck.plane_weights(plane_ids, A.shape[1])
        bits = veck.signed_bits(A, W)  # (n, len(plane_ids))
        shifts = 1 << np.arange(group_size, dtype=np.int64)
        keys = np.empty((A.shape[0], n_groups), dtype=np.int64)
        for g in range(n_groups):
            keys[:, g] = bits[:, g * group_size : (g + 1) * group_size] @ shifts
        return pd.Series(list(keys))

    return buckets


def _bucket_keys_np(q_vec, plane_ids: list[int], group_size: int) -> list[int]:
    """Driver-side bucket keys of one vector (same kernel, 1 row)."""
    A = np.asarray(q_vec, dtype=np.float64)[None, :]
    W = veck.plane_weights(plane_ids, A.shape[1])
    bits = veck.signed_bits(A, W)[0]
    shifts = 1 << np.arange(group_size, dtype=np.int64)
    n_groups = len(plane_ids) // group_size
    return [int(bits[g * group_size : (g + 1) * group_size] @ shifts)
            for g in range(n_groups)]


def lsh_buckets(spark: SparkSession, sf_dir: str, n_planes: int = 8) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (single band)."""
    e = _emb(spark, sf_dir)
    udf = _grouped_buckets_udf(list(range(n_planes)), n_planes)
    return e.select(
        "vec_id", udf(F.col("embedding")).getItem(0).alias("bucket")
    )


def ann_topk_lsh(spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = 10,
                 n_planes: int = 6, probe_radius: int = 1) -> DataFrame:
    """ANN: restrict rescoring to the LSH buckets within `probe_radius`
    sign-bit flips of the query's bucket (MULTI-PROBE — Lv et al.
    VLDB'07: near neighbors that miss the exact bucket land in its
    Hamming neighbors, so probing radius-1 buckets buys most of the
    recall of many hash tables for one table's memory). radius 1 probes
    n_planes+1 of the 2^n_planes buckets; exact cosine inside. At
    scale, size n_planes with :func:`planes_for` so the expected bucket
    population stays bounded."""
    e = _emb(spark, sf_dir)
    q_emb = _take_query_embedding(e, query_id)
    if q_emb is None:
        return _empty_topk(spark)
    q_bucket = _bucket_keys_np(q_emb, list(range(n_planes)), n_planes)[0]
    udf = _grouped_buckets_udf(list(range(n_planes)), n_planes)
    withb = e.select(
        "vec_id", "embedding", udf(F.col("embedding")).getItem(0).alias("bucket")
    )
    cand = withb.filter(
        (F.bit_count(F.col("bucket").bitwiseXOR(F.lit(q_bucket))) <= probe_radius)
        & (F.col("vec_id") != query_id)
    )
    return (
        cand.select(
            "vec_id",
            F.round(_cosine_q(q_emb, F.col("embedding")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def ann_topk_lsh_multi(spark: SparkSession, sf_dir: str, query_id: int = 0,
                       k: int = 10, n_planes: int = 6, n_tables: int = 3,
                       probe_radius: int = 1) -> DataFrame:
    """Recall-tunable LSH: n_tables INDEPENDENT hyperplane tables (table
    t uses global planes t*n_planes .. t*n_planes+n_planes-1, so its
    sign bits are uncorrelated with the other tables') unioned with
    multi-probe inside each table — a candidate is any vector within
    `probe_radius` bucket bits of the query in ANY table (classic
    OR-amplification; Lv et al. VLDB'07 multi-probe cuts the table
    count, tables cut the residual misses). Expected scan fraction is
    bounded by n_tables * sum_{r<=radius} C(n_planes, r) / 2^n_planes.

    MEASURED on the benchmark corpus (unstructured embeddings, 5
    queries, recall@10 vs brute force — BENCH/ROUND3.md): single table
    radius 1 = 0.36 @ 19% scanned; single radius 2 = 0.60 @ 39%;
    3 tables radius 1 = 0.40 @ ~30%; 3 tables radius 2 = 0.70. The
    recall budget is tuned by (n_tables, probe_radius) against that
    scan bound; IVF stays the better top-k path on unstructured
    vectors, LSH the near-dup/bucketing tool. Exact-cosine rescore
    inside the candidate set; the per-table keys live in ONE array per
    vector, so the cross-table OR needs no union or distinct."""
    e = _emb(spark, sf_dir)
    q_emb = _take_query_embedding(e, query_id)
    if q_emb is None:
        return _empty_topk(spark)
    plane_ids = list(range(n_tables * n_planes))
    q_keys = _bucket_keys_np(q_emb, plane_ids, n_planes)
    udf = _grouped_buckets_udf(plane_ids, n_planes)
    withb = e.select("vec_id", "embedding", udf(F.col("embedding")).alias("bks"))
    hit_any = None
    for t, qk in enumerate(q_keys):
        hit = (
            F.bit_count(F.col("bks").getItem(t).bitwiseXOR(F.lit(qk)))
            <= probe_radius
        )
        hit_any = hit if hit_any is None else (hit_any | hit)
    cand = withb.filter(hit_any & (F.col("vec_id") != query_id))
    return (
        cand.select(
            "vec_id",
            F.round(_cosine_q(q_emb, F.col("embedding")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def _collect_centroids(cents: DataFrame):
    """Bounded collect of the (cent_id, cent_emb) table — n_cents rows,
    the same bytes the old plan broadcast to every executor."""
    rows = sorted(
        ((int(r["cent_id"]), np.asarray(r["cent_emb"], dtype=np.float64))
         for r in cents.select("cent_id", "cent_emb").collect()),
        key=lambda t: t[0],
    )
    ids = np.array([t[0] for t in rows], dtype=np.int64)
    C = np.stack([t[1] for t in rows]) if rows else np.zeros((0, 0))
    return ids, C


def _assign_udf(ids: np.ndarray, C: np.ndarray):
    """pandas_udf: embedding -> nearest cent_id (argmax of cosine, ties
    -> smaller cent_id, NaN greatest — bit-identical to the old
    crossJoin + max(struct(ccos, -cent_id)) plan, without the n_cents x
    N row blowup or the groupBy shuffle)."""

    @F.pandas_udf("long")
    def assign(emb: pd.Series) -> pd.Series:
        if not len(emb):
            return pd.Series(np.zeros(0, dtype=np.int64))
        A = veck.stack_embeddings(emb)
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(veck.argmax_centroid(A, C, ids))

    return assign


def _probe_ids(q: np.ndarray, ids: np.ndarray, C: np.ndarray,
               nprobe: int) -> list[int]:
    """The nprobe centroids nearest the query by cosine — driver-side
    numpy on the already-collected n_cents rows, same (qcos DESC,
    cent_id ASC, NaN first) order as the old ORDER BY ... LIMIT."""
    nq = veck.seq_norm_scalar(q)
    scored = []
    with np.errstate(divide="ignore", invalid="ignore"):
        for i in range(C.shape[0]):
            c = C[i]
            qcos = veck.seq_dot_scalar(q, c) / (nq * veck.seq_norm_scalar(c))
            scored.append((int(ids[i]), qcos))
    scored.sort(key=lambda t: (
        0 if np.isnan(t[1]) else 1,           # NaN sorts greatest (first)
        -t[1] if not np.isnan(t[1]) else 0.0,  # then cosine DESC
        t[0],                                  # then cent_id ASC
    ))
    return [cid for cid, _ in scored[:nprobe]]


def ann_ivf_topk(spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = 10,
                 n_cents: int = 16, nprobe: int = 4) -> DataFrame:
    """IVF (inverted-file) ANN: partition vectors into n_cents lists by
    nearest centroid, probe only the nprobe lists nearest the query,
    exact-cosine rescore inside them.

    Centroids are SAMPLED deterministically (the embeddings of
    vec_id < n_cents) rather than Lloyd-trained: sampling from the data
    distribution is the standard zero-training IVF baseline and keeps
    the whole operator SQL-expressible for the oracle. At scale:
    centroid count grows ~sqrt(N); assignment is one Arrow-batched
    argmax over the corpus (zero shuffle — the old broadcast-join +
    max-struct partial aggregate shape collapsed into the kernel). The
    probe prunes (n_cents - nprobe)/n_cents of the corpus from the
    rescore. Ties break by centroid id.

    Eager: building the returned DataFrame already runs Spark jobs (the
    query vector's take(1) and the centroid collect). A missing query
    row, or a null query embedding, returns an empty result."""
    e = _emb(spark, sf_dir)
    cents = e.filter(F.col("vec_id") < n_cents).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )
    return _ivf_topk_from_cents(e, cents, query_id, k, nprobe)


def _ivf_topk_from_cents(e: DataFrame, cents: DataFrame, query_id: int, k: int,
                         nprobe: int) -> DataFrame:
    """IVF probe + rescore against a given (cent_id, cent_emb) table
    (shared by the sampled, Lloyd-trained, and persisted-index paths).

    The centroid table is a bounded collect (n_cents rows — the same
    bytes the old plan broadcast); probe selection happens driver-side;
    assignment + rescore is ONE pass over the corpus with two Arrow
    UDFs and no shuffle before the final TakeOrdered."""
    q_emb = _take_query_embedding(e, query_id)
    if q_emb is None:
        return _empty_topk(e.sparkSession)
    ids, C = _collect_centroids(cents)
    if not len(ids):
        return _empty_topk(e.sparkSession)
    q = np.asarray(q_emb, dtype=np.float64)
    probe = _probe_ids(q, ids, C, nprobe)
    cand = e.filter(F.col("vec_id") != query_id).filter(
        _assign_udf(ids, C)(F.col("embedding")).isin(probe)
    )
    return (
        cand.select(
            "vec_id",
            F.round(_cosine_q(q_emb, F.col("embedding")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def ivf_centroids(spark: SparkSession, sf_dir: str, n_cents: int = 16,
                  iters: int = 2) -> DataFrame:
    """Lloyd-refined IVF centroids (VERDICT r2: sampled centroids
    degrade on clustered real embeddings): start from the deterministic
    sampled baseline (vec_id < n_cents) and run `iters` k-means steps.

    Each step is ONE Spark job: an Arrow-batched nearest-centroid
    argmax (kernels/vec.py, centroids carried in the UDF closure) feeds
    posexplode + groupBy(cent_id, pos) + avg — map-side partial
    aggregation reduces the shuffle to n_cents * dims rows per task
    regardless of corpus size — and the n_cents x dims means are
    collected driver-side (bounded, the same magnitude as the old
    per-iteration centroid broadcast). Deterministic: assignment ties
    break toward the lower cent_id and a cluster that loses every
    member keeps its previous centroid. The old plan's per-iteration
    broadcast join, max-struct aggregate, embedding re-join, and eager
    localCheckpoint are all gone — lineage never grows because the
    centroids live driver-side between steps.

    Eager: the k-means steps run (1 + iters collects) before this
    returns; the result is a local DataFrame of the final centroids.

    Returns (cent_id, cent_emb array<double>).
    """
    return ivf_centroids_df(
        _emb(spark, sf_dir).select("vec_id", "embedding"), n_cents, iters
    )


def ivf_centroids_df(emb: DataFrame, n_cents: int = 16,
                     iters: int = 2) -> DataFrame:
    """ivf_centroids over ANY (vec_id, embedding) DataFrame — raw
    parquet or the compressed store (build_ivf_index)."""
    spark = emb.sparkSession
    # each iteration scans the corpus once; persist so the source
    # (possibly a store decode) is not re-read iters+1 times
    e = emb.select("vec_id", "embedding").persist()
    try:
        ids, C = _collect_centroids(
            e.filter(F.col("vec_id") < n_cents).select(
                F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("cent_emb"),
            )
        )
        for _ in range(iters):
            # persist barrier: in one Project, ExtractPythonUDFs places
            # the Arrow UDF ABOVE the posexplode Generate — the argmax
            # would run per EXPLODED row, d times the boundary traffic
            # and kernel work (verified in the plan; asNondeterministic
            # does not move it). Materializing the assignment first
            # keeps the UDF per input row; the cache is (cent_id,
            # embedding) for one iteration and is dropped right after.
            assigned = e.select(
                _assign_udf(ids, C)(F.col("embedding")).alias("cent_id"),
                "embedding",
            ).persist()
            try:
                means = (
                    assigned.select(
                        "cent_id", F.posexplode("embedding").alias("pos", "x")
                    )
                    .groupBy("cent_id", "pos")
                    .agg(F.avg(F.col("x").cast("double")).alias("m"))
                    .collect()  # bounded: n_cents x dims rows
                )
            finally:
                assigned.unpersist()
            by_cent: dict[int, dict[int, float]] = {}
            for r in means:
                by_cent.setdefault(int(r["cent_id"]), {})[int(r["pos"])] = r["m"]
            newC = C.copy()
            for i, cid in enumerate(ids):
                got = by_cent.get(int(cid))
                if got:  # a cluster that loses every member keeps its centroid
                    newC[i] = np.array(
                        [got[p] for p in sorted(got)], dtype=np.float64
                    )
            C = newC
    finally:
        e.unpersist()
    return spark.createDataFrame(
        [(int(cid), [float(x) for x in C[i]]) for i, cid in enumerate(ids)],
        "cent_id bigint, cent_emb array<double>",
    )


def ann_ivf_lloyd_topk(spark: SparkSession, sf_dir: str, query_id: int = 0,
                       k: int = 10, n_cents: int = 16, nprobe: int = 4,
                       iters: int = 2) -> DataFrame:
    """ann_ivf_topk with Lloyd-trained centroids (ivf_centroids): the
    probe/rescore plan is identical — only the centroid table changes.
    Training is deterministic, so the DuckDB oracle unrolls the same
    `iters` k-means steps in SQL."""
    e = _emb(spark, sf_dir)
    cents = ivf_centroids(spark, sf_dir, n_cents=n_cents, iters=iters)
    return _ivf_topk_from_cents(e, cents, query_id, k, nprobe)


# --------------------------------------------- persisted index in the store

def _store_key_rows(store_dir: str, m: dict) -> int:
    """Logical row count of the store, manifest-only (zero Spark jobs):
    sum of the KEY column's block row counts — one block per bucket for
    batch stores, one per generation for streamed, so the sum is exact
    for both. This is the staleness fingerprint index entries pin:
    row count survives compaction (same data, new wave layout) but
    moves on every append — exactly the changes that drift centroids."""
    from .. import manifest

    key = m["key"]
    return sum(
        int(s["n_rows"])
        for st in manifest.block_stats(store_dir, m).values()
        for s in st if s["column"] == key
    )


def build_ivf_index(spark: SparkSession, store_dir: str, *,
                    column: str = "embedding", n_cents: int = 16,
                    iters: int = 2, max_stale_frac: float = 0.0) -> dict:
    """Train Lloyd IVF centroids over the STORE's embedding column and
    persist them as an index artifact INSIDE the snapshot —
    `indexes/ivf_<column>_<uuid>/` parquet (cent_id, cent_emb) —
    registered in the manifest via a CAS commit under m["indexes"], so
    the index shares the store's snapshot/versioning discipline and
    ANN queries stop re-training per run (a corpus scan per k-means
    iteration each time). Idempotent: a registered index for the same
    (column, n_cents, iters) returns without retraining. A crash
    between the parquet write and the commit leaves an unreferenced
    dir (bytes: n_cents x dims doubles — negligible; remove manually
    or rebuild over it).

    Deterministic training (same rule as ivf_centroids), so a query
    served from the persisted index hash-matches the live-trained
    oracle.

    The entry pins the data it trained on: `built_rows` (the store's
    manifest-only key-row count) and `built_at_version` (the manifest
    version read). An existing index is reused only when its spec
    matches AND the store's row count drifted no more than
    `max_stale_frac` from built_rows (default 0.0: any append or
    rebuild retrains) — a re-clustered or heavily-appended store can
    no longer silently serve centroids describing old data."""
    import uuid

    from .. import manifest
    from ..operators.decode import decode_colocated

    m, version = manifest.load_with_version(store_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest in {store_dir}")
    name = f"ivf_{column}"
    spec = {"n_cents": n_cents, "iters": iters}
    existing = m.get("indexes", {}).get(name)
    rows = _store_key_rows(store_dir, m)
    if existing and all(existing.get(k) == v for k, v in spec.items()):
        built = existing.get("built_rows")
        if built is not None and abs(rows - built) <= max_stale_frac * built:
            return existing
        # stale (or a pre-pinning legacy entry): fall through to retrain
    key = m["key"]
    emb = decode_colocated(spark, store_dir, columns=[key, column]).select(
        F.col(key).alias("vec_id"), F.col(column).alias("embedding")
    )
    cents = ivf_centroids_df(emb, n_cents=n_cents, iters=iters)
    rel = f"indexes/{name}_{uuid.uuid4().hex[:8]}"
    cents.coalesce(1).write.mode("error").parquet(f"{store_dir}/{rel}")

    entry = {**spec, "path": rel, "column": column,
             "built_rows": rows, "built_at_version": version}
    replaced: list[str] = []

    def register(cur):
        replaced.clear()  # re-derived per CAS attempt (fresh state)
        if cur is None:
            raise FileNotFoundError(f"no manifest in {store_dir}")
        idx = cur.setdefault("indexes", {})
        prev = idx.get(name)
        if (prev and prev.get("built_rows") == rows
                and all(prev.get(k) == v for k, v in spec.items())):
            return cur  # lost a build race AT THE SAME DATA: keep theirs
        if prev:
            replaced.append(prev["path"])
        idx[name] = entry
        return cur

    m2 = manifest.commit(store_dir, register)
    final = m2["indexes"][name]
    if final is not entry and final != entry:
        # lost the race: our freshly written dir is unreferenced
        import shutil

        shutil.rmtree(f"{store_dir}/{rel}", ignore_errors=True)
    elif replaced:
        # a spec change superseded the old index: reclaim its dir (a
        # concurrent reader mid-query on the old path fails loudly and
        # retries — same reader-lag contract as compaction, minus the
        # grace window an index rebuild doesn't warrant)
        import shutil

        for old in replaced:
            shutil.rmtree(f"{store_dir}/{old}", ignore_errors=True)
    return final


def load_ivf_index(spark: SparkSession, store_dir: str,
                   column: str = "embedding",
                   on_stale: str = "warn") -> DataFrame | None:
    """Read the registered IVF centroids, checking the entry's pinned
    built_rows against the store's CURRENT manifest-only row count.
    `on_stale`: "warn" (default — serve the index, emit a warning:
    staleness drifts recall, it does not corrupt results, assignment
    still scans live vectors), "raise", or "ignore". Entries from
    before pinning (no built_rows) are treated as stale. Rebuild via
    build_ivf_index, which retrains whenever the pin is stale."""
    import warnings

    from .. import manifest

    m = manifest.load(store_dir)
    entry = (m or {}).get("indexes", {}).get(f"ivf_{column}")
    if not entry:
        return None
    if on_stale != "ignore":
        rows = _store_key_rows(store_dir, m)
        built = entry.get("built_rows")
        if built != rows:
            msg = (
                f"IVF index {entry['path']} trained at {built} rows "
                f"(manifest v{entry.get('built_at_version')}), store now "
                f"holds {rows} — centroids are stale; build_ivf_index "
                "retrains"
            )
            if on_stale == "raise":
                raise RuntimeError(msg)
            warnings.warn(msg, stacklevel=2)
    return spark.read.parquet(f"{store_dir}/{entry['path']}")


def store_ivf_topk(spark: SparkSession, sf_dir: str, query_id: int = 0,
                   k: int = 10, n_cents: int = 16, nprobe: int = 4,
                   iters: int = 2) -> DataFrame:
    """ann_ivf_lloyd_topk served entirely FROM the store: embeddings
    read through the codec store and centroids from the persisted
    index (built on first call, then a tiny parquet read). Identical
    result contract — the oracle is the same unrolled-k-means SQL."""
    from ..operators.decode import decode_colocated

    out = _emb_store(spark, sf_dir)
    # read the centroids from the entry THIS build returned — a
    # concurrent rebuild with a different spec must not swap the
    # centroid table under the query
    entry = build_ivf_index(spark, out, n_cents=n_cents, iters=iters)
    cents = spark.read.parquet(f"{out}/{entry['path']}")
    e = decode_colocated(spark, out, columns=["vec_id", "embedding"])
    return _ivf_topk_from_cents(e, cents, query_id, k, nprobe)


def _emb_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ copy(vec_id+100000): deterministic duplicate vectors
    so near-dup detection has nonempty, oracle-checkable output."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    dup = e.select((F.col("vec_id") + F.lit(100000)).alias("vec_id"), "embedding")
    return e.unionAll(dup)


def planes_for(n_vectors: int, target_bucket: int = 64) -> int:
    """Planes per band so the EXPECTED bucket population stays bounded:
    2^planes buckets ≥ n / target_bucket. At 10^9 vectors with
    target 64 this gives 24 planes/band — bucket count grows with the
    corpus, so the within-bucket self-join never degenerates into a
    mini-cartesian (the fixed-2^6 failure mode)."""
    import math

    need = max(n_vectors / max(target_bucket, 1), 1.0)
    return max(8, math.ceil(math.log2(need)))


def embedding_dup_pairs(spark: SparkSession, sf_dir: str, n_planes: int = 16,
                        n_bands: int = 2, threshold: float = 0.999) -> DataFrame:
    """Embedding-cosine near-duplicates: banded hyperplane LSH.

    n_planes sign bits are split into n_bands independent bands
    (n_planes/n_bands bits each); candidates are pairs sharing ANY
    band's full key (multi-band OR — recall multiplies across bands
    while each band's 2^(planes/bands) key space keeps buckets small),
    then exact-cosine rescored. Never all-pairs; the self-join key is
    (band, band_key), so AQE can split a skewed band key.

    At scale, pass n_planes = n_bands * planes_for(N): bucket count
    then grows with the corpus and expected bucket size stays O(1).

    Plane weights are the fixed deterministic pattern
    w(p, d) = +1 if (31p + 17d) % 7 < 3 else -1 (kernels/vec.py
    plane_weights — no dims probe; the SQL oracle recomputes the
    identical planes). All band keys of a vector come from ONE Arrow
    batch (vec.signed_bits), so only (band, band_key) ints reach the
    self-join shuffle — the payloads join in only for the surviving
    candidate pairs."""
    if n_planes % n_bands:
        raise ValueError(f"n_bands ({n_bands}) must evenly divide n_planes ({n_planes})")
    band_planes = n_planes // n_bands
    e = _emb_with_dups(spark, sf_dir)
    udf = _grouped_buckets_udf(list(range(n_planes)), band_planes)
    # lazy localCheckpoint: the self-join reads band_keys on BOTH sides
    # and the new UDF subtree has no Exchange for ReuseExchange to
    # match, so without it the scan + Arrow batch would run twice; the
    # checkpointed artifact is (vec_id, band, band_key) ints only
    band_keys = e.select(
        "vec_id",
        F.posexplode(udf(F.col("embedding"))).alias("band", "band_key"),
    ).localCheckpoint(eager=False)
    a = band_keys.select(F.col("vec_id").alias("vec_a"), "band", "band_key")
    b = band_keys.select(F.col("vec_id").alias("vec_b"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()  # a pair may collide in several bands
    )
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _cosine_pair(F.col("emb_a"), F.col("emb_b")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
