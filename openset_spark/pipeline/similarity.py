"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the correctness baseline. Cross join
  restricted to a (small) query set — broadcast the queries, scan the
  corpus once, per-query top-k via window rank. At 100 TB the corpus
  side streams; only the query set is materialized.
- LSH (random hyperplane) bucketed ANN: the scale path. Signatures
  are deterministic (seeded hyperplanes shipped as literal arrays);
  candidates form inside a bucket, then exact cosine re-ranks.

All vector math is `aggregate`/`zip_with` (JVM codegen), no Python.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from openset_spark.functions.vector import (
    dot,
    dot_fixed,
    norm,
    norm_fixed,
)

# Spark type -> pyarrow type for the Arrow cross scorer's passthrough
# columns (ids / labels). Anything outside this map falls back to the
# JVM HOF path rather than guess.
_PA_TYPES = {
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "double": "float64",
    "float": "float32",
    "string": "string",
}


def _arrow_query_cap() -> int:
    """Row cap on the query frame the Arrow scorers may pull to the
    driver. The JVM broadcast path fails LOUDLY past the broadcast
    size threshold; a bare ``.collect()`` would instead OOM the
    driver silently, so past this cap the scorers return None and
    the caller keeps the JVM broadcast plan (which enforces its own
    limits). 2M rows at dim-64 double vectors is ~1 GB framed —
    within the default driver heap but far past any sane "query
    batch"; override per-deployment via SPARK_GRAFT_ARROW_QUERY_CAP."""
    return int(os.environ.get("SPARK_GRAFT_ARROW_QUERY_CAP", "2000000"))


def _collect_queries_capped(queries: DataFrame, qsel: list) -> list | None:
    """collect() the projected query frame, or None when it exceeds
    the cap. limit(cap+1) bounds what ever reaches the driver — the
    overflow probe costs one extra row, not an uncapped collect."""
    cap = _arrow_query_cap()
    rows = queries.select(*qsel).limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    return rows


def _arrow_cross_scores(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    label_col: str | None = None,
    exclude_self: bool = False,
) -> DataFrame | None:
    """Brute-force pair scoring as ONE Arrow batch pass (guide §4.2):
    corpus partitions stream through a vectorized NumPy scorer;
    queries — bounded by the same contract that lets the JVM path
    broadcast them (the driver holds them either way) — ship in the
    task closure. Returns (query_id[, _qlabel], id[, label], cos_sim)
    or None when the shape isn't eligible (non-double vectors, types
    outside the passthrough map), in which case the caller keeps the
    interpreted-HOF crossJoin.

    Bit-exactness contract (tests/test_vector_unroll.py locks it):
    every float op replays the HOF fold exactly — dot and norm² are
    the sequential left fold ``acc = acc + v[d]*q[d]`` (NumPy's
    elementwise mul/add are the same correctly-rounded IEEE doubles
    as Java's, and the d-loop runs in dim order, NOT a pairwise/BLAS
    reduction), cos = dot / (cnorm * qnorm) with the denominator
    grouped first, exactly as the column expression associates. The
    interpreted fold costs ~µs per pair; this path scores a full
    batch per NumPy op — measured ~3x end-to-end on knn_agreement at
    sf0.1 — while the plan keeps the same single corpus scan and no
    exchange below the scorer."""
    c_vec = corpus.schema[vec_col].dataType.simpleString()
    q_vec = queries.schema[vec_col].dataType.simpleString()
    if c_vec != "array<double>" or q_vec != "array<double>":
        return None
    out_fields = [(query_id_col, queries.schema[query_id_col].dataType)]
    if label_col is not None:
        out_fields.append(("_qlabel", queries.schema[label_col].dataType))
    out_fields.append((id_col, corpus.schema[id_col].dataType))
    if label_col is not None:
        out_fields.append((label_col, corpus.schema[label_col].dataType))
    pa_types = []
    for _, dt in out_fields:
        t = _PA_TYPES.get(dt.simpleString())
        if t is None:
            return None
        pa_types.append(t)

    qsel = [query_id_col, vec_col] + ([label_col] if label_col else [])
    qrows = _collect_queries_capped(queries, qsel)
    if qrows is None:
        return None

    schema_ddl = ", ".join(
        f"`{nm}` {dt.simpleString()}" for nm, dt in out_fields
    ) + ", cos_sim double"
    csel = [id_col, vec_col] + ([label_col] if label_col else [])
    proj = corpus.select(*csel)

    def score(batches):
        import numpy as np
        import pyarrow as pa

        nq = len(qrows)
        if nq == 0:
            return
        patys = [pa.type_for_alias(t) for t in pa_types]
        f64 = pa.type_for_alias("float64")
        Q = np.array([r[1] for r in qrows], dtype=np.float64)
        dim = Q.shape[1]
        # per-query norm: the same sequential fold the HOF runs
        qn = np.zeros(nq, dtype=np.float64)
        for d in range(dim):
            qn = qn + Q[:, d] * Q[:, d]
        qn = np.sqrt(qn)
        qids = [r[0] for r in qrows]
        qlabels = [r[2] for r in qrows] if label_col else None

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            flat = batch.column(1).flatten()
            V = flat.to_numpy(zero_copy_only=False)
            if V.size != n * dim:
                raise ValueError(
                    f"ragged {vec_col}: {V.size} values for {n} rows "
                    f"of dim {dim} (fixed-width contract)"
                )
            V = V.reshape(n, dim)
            cn = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                cn = cn + V[:, d] * V[:, d]
            cn = np.sqrt(cn)
            ids_np = batch.column(0).to_numpy(zero_copy_only=False)
            labels_np = (
                batch.column(2).to_numpy(zero_copy_only=False)
                if label_col
                else None
            )
            cols = [[] for _ in out_fields]
            cos_parts = []
            for j in range(nq):
                acc = np.zeros(n, dtype=np.float64)
                for d in range(dim):
                    acc = acc + V[:, d] * Q[j, d]
                cos = acc / (cn * qn[j])
                if exclude_self:
                    keep = ids_np != qids[j]
                    m = int(keep.sum())
                    sel = lambda a: a[keep]  # noqa: E731
                else:
                    m = n
                    sel = lambda a: a  # noqa: E731
                k = 0
                cols[k].append(pa.array([qids[j]] * m, type=patys[0]))
                k += 1
                if label_col:
                    cols[k].append(
                        pa.array([qlabels[j]] * m, type=patys[k])
                    )
                    k += 1
                cols[k].append(pa.array(sel(ids_np), type=patys[k]))
                k += 1
                if label_col:
                    cols[k].append(
                        pa.array(sel(labels_np), type=patys[k])
                    )
                    k += 1
                cos_parts.append(pa.array(sel(cos), type=f64))
            arrays = [pa.concat_arrays(c) for c in cols]
            arrays.append(pa.concat_arrays(cos_parts))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[nm for nm, _ in out_fields] + ["cos_sim"]
            )

    return proj.mapInArrow(score, schema_ddl)


def _arrow_pair_scores(
    cands: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    label_col: str | None = None,
) -> DataFrame | None:
    """Candidate-PAIR scoring as one Arrow batch pass — the
    :func:`_arrow_cross_scores` sibling for frames that already name
    their pairs (LSH bucket joins, IVF probes, candidate lists).
    ``cands`` holds (query_id, id[, label], vec); the query vectors —
    driver-bounded by the same contract that lets the JVM paths
    broadcast them — ship in the task closure keyed by query id, so
    the candidate frame never carries ``_qvec``/``_qnorm`` payload
    through its joins and dedup shuffles (guide §2.3: shuffle fewer
    bytes — the query vector + norm used to ride every candidate
    row). Returns (query_id[, _qlabel], id[, label], cos_sim) or None
    when ineligible (non-double vectors / types outside the
    passthrough map), in which case the caller keeps the JVM
    expression path.

    Bit-exactness: identical to :func:`_arrow_cross_scores` — dot and
    norm² replay the HOF fold's sequential d-loop, cos groups the
    denominator as (cnorm * qnorm) first. The gathered-query variant
    (`Q[idx]` rows instead of one query per pass) changes nothing:
    each lane still accumulates acc + V[r,d]*Q[q,d] in dim order.
    tests/test_arrow_scorer.py locks scorer == expression."""
    if cands.schema[vec_col].dataType.simpleString() != "array<double>":
        return None
    if queries.schema[vec_col].dataType.simpleString() != "array<double>":
        return None
    out_fields = [(query_id_col, queries.schema[query_id_col].dataType)]
    if label_col is not None:
        out_fields.append(("_qlabel", queries.schema[label_col].dataType))
    out_fields.append((id_col, cands.schema[id_col].dataType))
    if label_col is not None:
        out_fields.append((label_col, cands.schema[label_col].dataType))
    pa_types = []
    for _, dt in out_fields:
        t = _PA_TYPES.get(dt.simpleString())
        if t is None:
            return None
        pa_types.append(t)

    qsel = [query_id_col, vec_col] + ([label_col] if label_col else [])
    qrows = _collect_queries_capped(queries, qsel)
    if qrows is None:
        return None

    schema_ddl = ", ".join(
        f"`{nm}` {dt.simpleString()}" for nm, dt in out_fields
    ) + ", cos_sim double"
    csel = [query_id_col, id_col, vec_col] + (
        [label_col] if label_col else []
    )
    proj = cands.select(*csel)

    def score(batches):
        import numpy as np
        import pyarrow as pa

        nq = len(qrows)
        if nq == 0:
            return
        patys = [pa.type_for_alias(t) for t in pa_types]
        f64 = pa.type_for_alias("float64")
        Q = np.array([r[1] for r in qrows], dtype=np.float64)
        dim = Q.shape[1]
        # per-query norm: the same sequential fold the HOF runs
        qn = np.zeros(nq, dtype=np.float64)
        for d in range(dim):
            qn = qn + Q[:, d] * Q[:, d]
        qn = np.sqrt(qn)
        qidx = {r[0]: i for i, r in enumerate(qrows)}
        qlabels = [r[2] for r in qrows] if label_col else None

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            flat = batch.column(2).flatten()
            V = flat.to_numpy(zero_copy_only=False)
            if V.size != n * dim:
                raise ValueError(
                    f"ragged {vec_col}: {V.size} values for {n} rows "
                    f"of dim {dim} (fixed-width contract)"
                )
            V = V.reshape(n, dim)
            cn = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                cn = cn + V[:, d] * V[:, d]
            cn = np.sqrt(cn)
            try:
                idx = np.array(
                    [qidx[qv] for qv in batch.column(0).to_pylist()],
                    dtype=np.int64,
                )
            except KeyError as e:  # pragma: no cover - contract guard
                raise ValueError(
                    f"candidate row references unknown query id {e}"
                ) from e
            Qg = Q[idx]
            acc = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                acc = acc + V[:, d] * Qg[:, d]
            cos = acc / (cn * qn[idx])
            arrays = [batch.column(0)]
            if label_col:
                arrays.append(
                    pa.array([qlabels[i] for i in idx], type=patys[1])
                )
            arrays.append(batch.column(1))
            if label_col:
                arrays.append(batch.column(3))
            arrays.append(pa.array(cos, type=f64))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[nm for nm, _ in out_fields] + ["cos_sim"]
            )

    return proj.mapInArrow(score, schema_ddl)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, cos_sim, rank) exact top-k per query.

    ``queries`` is (query_id, embedding); it is broadcast — the corpus
    is scanned exactly once regardless of query count. Norms are
    precomputed per ROW on both sides (the fold order inside each norm
    is unchanged, so values are bit-identical to cosine()); the
    per-pair work is the one dot product — measured ~3x over
    recomputing both norms inside every pair at 200k x 100. (r15
    note: an unrolled element_at dot was tried and measured 3.6x
    SLOWER end-to-end — see `_dot_lit_sql`; the HOF fold stays. r15
    second pass: double-typed inputs route through
    :func:`_arrow_cross_scores`, the bit-identical Arrow batch
    scorer — the HOF crossJoin remains the fallback for float32 /
    exotic id types.)
    """
    scored = _arrow_cross_scores(
        corpus, queries, id_col, vec_col, query_id_col
    )
    if scored is None:
        q = F.broadcast(
            queries.select(
                F.col(query_id_col),
                F.col(vec_col).alias("_qvec"),
                norm(F.col(vec_col)).alias("_qnorm"),
            )
        )
        c = corpus.select(
            F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("_cnorm")
        )
        scored = c.crossJoin(q).select(
            F.col(query_id_col),
            F.col(id_col),
            (
                dot(F.col(vec_col), F.col("_qvec"))
                / (F.col("_cnorm") * F.col("_qnorm"))
            ).alias("cos_sim"),
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (no numpy needed at
    plan build; Box-Muller over a hash-seeded LCG)."""
    rng_state = seed or 1

    def nxt() -> float:
        nonlocal rng_state
        rng_state = (6364136223846793005 * rng_state + 1442695040888963407) % (1 << 64)
        return (rng_state >> 11) / float(1 << 53)

    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            u1, u2 = max(nxt(), 1e-12), nxt()
            v.append(math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.pi * u2))
        planes.append(v)
    return planes


def _lit_vec_sql(v: list[float]) -> str:
    """SQL literal ``array<double>`` — ONE string the parser ingests in
    one call. Building the same array as nested ``F.array(F.lit(...))``
    costs a py4j round trip per element; at 24 planes x 64 dims that
    was ~4 s of DRIVER time per plan build (measured), repaid on every
    re-plan. String building is ~ms and scale-free."""
    return "array(" + ",".join(repr(float(x)) + "D" for x in v) + ")"


def _dot_lit_sql(col_sql: str, v: list[float]) -> str:
    """dot(column, literal vector) as a SQL snippet (same zip_with +
    aggregate shape as :func:`dot`, so results are bit-identical).

    r15 measured note: an UNROLLED ``el_1*c_1 + el_2*c_2 + ...`` form
    was tried and is 2.5-8x SLOWER at dim 64 — the generated method
    blows past HotSpot's JIT bytecode limit and runs in the bytecode
    interpreter (hof_lit16 2.17s vs unroll_lit16 5.67s on a 500k x 16
    -centroid argmax; full_unroll 7.7s vs hof 1.37s on a 2M-row dot).
    The HOF aggregate evaluates interpreted but its loop body is
    Scala-level — cheaper than a giant un-JIT-able method. Keep the
    fold; stage shared norms instead (see `_centroid_sims`)."""
    return (
        f"aggregate(zip_with({col_sql},{_lit_vec_sql(v)},(x,y)->x*y),"
        "0D,(a,v)->a+v)"
    )


def lsh_buckets_array(
    vec_col_sql: str, dim: int, n_planes: int, n_tables: int, seed: int = 42
) -> Column:
    """``array<long>`` of ``n_tables`` bucket signatures in ONE pass
    over the corpus, built as ONE ``F.expr`` string.

    Per-plane dots stay FLAT expressions (zip_with+aggregate each):
    nesting them inside a transform() over a 2D plane array forces
    the whole signature out of codegen into interpreted eval —
    measured ~5x slower per scan. Flat via expression STRING keeps
    both properties: codegen'd execution and O(1) py4j calls."""
    all_planes: list[list[float]] = []
    for t in range(n_tables):
        all_planes.extend(_hyperplanes(dim, n_planes, seed + 1000 * t))

    def bucket_sql(t: int) -> str:
        terms = [
            f"(CASE WHEN {_dot_lit_sql(vec_col_sql, all_planes[t * n_planes + i])}"
            f" > 0D THEN {1 << i}L ELSE 0L END)"
            for i in range(n_planes)
        ]
        return "(" + "+".join(terms) + ")"

    return F.expr(
        "array(" + ",".join(bucket_sql(t) for t in range(n_tables)) + ")"
    )


def _arrow_lsh_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = 42,
) -> DataFrame | None:
    """Corpus-side LSH signatures as one Arrow batch pass: emits
    (id, vec, _sig array<long>) — one row per input, the vector
    crossing the boundary once, with the n_tables bucket signatures
    computed vectorized instead of as n_tables*n_planes interpreted
    HOF folds per row (the dominant per-row cost of lsh_topk's corpus
    scan at 36 plane-dots/row). Returns None when ineligible
    (non-double vectors / id type outside the passthrough map).

    Bit-exactness: each plane dot replays `_dot_lit_sql`'s fold —
    products accumulated in dim order (acc = acc + v[d]*p[d], no
    FMA/pairwise reduction), plane literals are the same Python
    floats `repr` round-trips into the SQL literal, and the bucket
    bit is (dot > 0) exactly as the CASE WHEN (NaN > 0 is false in
    both). tests/test_arrow_scorer.py locks Arrow == JVM signatures."""
    if df.schema[vec_col].dataType.simpleString() != "array<double>":
        return None
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in _PA_TYPES:
        return None
    all_planes: list[list[float]] = []
    for t in range(n_tables):
        all_planes.extend(_hyperplanes(dim, n_planes, seed + 1000 * t))

    schema_ddl = (
        f"`{id_col}` {id_type}, `{vec_col}` array<double>, "
        "`_sig` array<bigint>"
    )
    proj = df.select(id_col, vec_col)

    def buckets(batches):
        import numpy as np
        import pyarrow as pa

        P = np.array(all_planes, dtype=np.float64)

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            flat = batch.column(1).flatten()
            V = flat.to_numpy(zero_copy_only=False)
            if V.size != n * dim:
                raise ValueError(
                    f"ragged {vec_col}: {V.size} values for {n} rows "
                    f"of dim {dim} (fixed-width contract)"
                )
            V = V.reshape(n, dim)
            sig = np.zeros((n, n_tables), dtype=np.int64)
            for t in range(n_tables):
                for i in range(n_planes):
                    p = P[t * n_planes + i]
                    acc = np.zeros(n, dtype=np.float64)
                    for d in range(dim):
                        acc = acc + V[:, d] * p[d]
                    sig[:, t] += (acc > 0).astype(np.int64) << i
            offsets = pa.array(
                np.arange(n + 1, dtype=np.int32) * n_tables
            )
            sig_arr = pa.ListArray.from_arrays(
                offsets, pa.array(sig.reshape(-1))
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), sig_arr],
                names=[id_col, vec_col, "_sig"],
            )

    return proj.mapInArrow(buckets, schema_ddl)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    bucketed_corpus: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k with multi-table OR-amplification: a vector is
    a candidate if it shares a bucket with the query in ANY of the
    ``n_tables`` independent hyperplane tables; exact cosine re-ranks.
    Each table is a hash join on (table, bucket); recall ~
    1-(1-p^planes)^tables. The corpus is scanned ONCE — per-row bucket
    signatures for all tables come from ``lsh_buckets_array`` and
    posexplode into (table, bucket) join keys. Candidates are deduped
    before scoring so the cosine work is bounded by the union, not the
    sum."""

    def bucketed(df: DataFrame, col: str, keep: list[str]) -> DataFrame:
        sig = lsh_buckets_array(f"`{col}`", dim, n_planes, n_tables, seed)
        return df.select(
            *keep, F.posexplode(sig).alias("table", "bucket")
        )

    if bucketed_corpus is not None:
        # signatures precomputed at ingest (the 100 TB layout: the
        # exploded (table, bucket) index is written once, partitioned
        # by its join key) — the query path pays no corpus signature
        c = bucketed_corpus
    else:
        # r15 second pass: corpus signatures vectorize through the
        # Arrow bucket pass when eligible (bit-identical bits; the
        # interpreted n_tables*n_planes HOF dots were the scan's
        # dominant per-row cost); posexplode of the signature array
        # stays JVM-side
        ab = _arrow_lsh_buckets(
            corpus.select(id_col, vec_col), id_col, vec_col,
            dim, n_planes, n_tables, seed,
        )
        if ab is not None:
            c = ab.select(
                id_col, vec_col,
                F.posexplode("_sig").alias("table", "bucket"),
            )
        else:
            c = bucketed(corpus, vec_col, [id_col, vec_col])
    # r15 second pass: double-typed inputs score through the Arrow
    # pair scorer — the broadcast rows and the dedup shuffle carry
    # ONLY (query_id, id, vec); the query vector and norm live in the
    # task closure instead of riding every candidate row
    slim_q = bucketed(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("_qvec")
        ),
        "_qvec",
        [query_id_col],
    )
    slim_cands = (
        c.join(F.broadcast(slim_q), ["table", "bucket"])
        .select(query_id_col, id_col, vec_col)
        .dropDuplicates([query_id_col, id_col])
    )
    scored = _arrow_pair_scores(
        slim_cands, queries, id_col, vec_col, query_id_col
    )
    if scored is None:
        q = bucketed(
            queries.select(
                F.col(query_id_col),
                F.col(vec_col).alias("_qvec"),
                # the query norm is per QUERY, not per candidate —
                # compute it once here and carry it through the bucket
                # join instead of re-evaluating the interpreted fold
                # on every scored pair row (bit-identical value)
                norm(F.col(vec_col)).alias("_qnorm"),
            ),
            "_qvec",
            [query_id_col, "_qvec", "_qnorm"],
        )
        cands = (
            c.join(F.broadcast(q), ["table", "bucket"])
            .select(query_id_col, id_col, "_qvec", "_qnorm", vec_col)
            .dropDuplicates([query_id_col, id_col])
        )
        # corpus norm once per candidate row (bit-identical fold
        # order), one dot per pair — same shape as brute_force_topk
        scored = cands.select(
            F.col(query_id_col),
            F.col(id_col),
            (
                dot(F.col(vec_col), F.col("_qvec"))
                / (norm(F.col(vec_col)) * F.col("_qnorm"))
            ).alias("cos_sim"),
        )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(F.col("rank") <= k)


def ivf_index(
    corpus: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """IVF coarse index: pick ``n_lists`` centroids deterministically
    (hash-order sample of the corpus — cheap, clustering-free flat
    quantizer), assign every vector to its nearest centroid.

    ``refine_iters`` runs that many distributed Lloyd iterations over
    the seeds: assignment is the same JVM argmax projection; the
    centroid update is ONE shuffle of (list_id, position, component)
    rows (posexplode -> groupBy avg -> n_lists x dim tiny collect).
    Per iteration cost = one corpus scan + one bounded aggregate —
    the 100 TB-safe k-means shape (never collects vectors, only the
    n_lists x dim centroid matrix). Lists tighten, so nprobe recall
    rises vs the unrefined quantizer (tested in test_pipeline.py).

    Returns (assigned corpus with ``list_id``, centroids). The index
    build collects ONLY centroid-sized data; assignment is a JVM
    argmax over broadcast centroid literals — one corpus scan, no
    shuffle. At 100 TB the assigned table is written back partitioned
    by list_id so probes touch nprobe/n_lists of the data."""
    cents = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(n_lists)
        .collect()
    )
    centroids = [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(cents)]

    def _assign(df: DataFrame) -> DataFrame:
        # r15 second pass: the per-row argmax vectorizes through the
        # Arrow assignment pass when eligible (bit-identical list
        # ids; the n_lists interpreted cosine folds per corpus row
        # were the index build's dominant cost)
        arrow = _arrow_nearest_centroid(df, vec_col, centroids)
        if arrow is not None:
            return arrow
        # stage the row norm ONCE per row (r15): the argmax references
        # it n_lists times and the array expression evaluates as
        # interpreted CodegenFallback with no subexpression sharing —
        # without the staged column each copy re-evaluates the 2*dim-op
        # norm. Same value, same assignment, n_lists-1 fewer norm
        # evaluations per corpus row.
        return (
            df.withColumn("_rnorm", norm(F.col(vec_col)))
            .withColumn(
                "list_id",
                _nearest_centroid(f"`{vec_col}`", centroids, "`_rnorm`"),
            )
            .drop("_rnorm")
        )

    for _ in range(refine_iters):
        assigned = _assign(corpus)
        means = (
            assigned.select(
                "list_id", F.posexplode(F.col(vec_col)).alias("pos", "x")
            )
            .groupBy("list_id", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_list: dict[int, dict[int, float]] = {}
        for r in means:
            by_list.setdefault(r.list_id, {})[r.pos] = float(r.m)
        centroids = [
            # empty lists keep their previous centroid (standard Lloyd)
            (
                cid,
                [by_list[cid][p] for p in range(len(vec))]
                if cid in by_list
                else vec,
            )
            for cid, vec in centroids
        ]
    assigned = _assign(corpus)
    return assigned, centroids


def _arrow_nearest_centroid(
    df: DataFrame,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame | None:
    """IVF assignment as one Arrow batch pass: every input column
    passes through untouched and a ``list_id int`` column is
    appended — the nearest-centroid argmax computed vectorized
    instead of as n_lists interpreted cosine folds per row. Returns
    None when ineligible (non-double vectors / a column type the DDL
    round trip can't express).

    Bit-exactness with `_nearest_centroid`'s
    reverse(array_sort(struct(sim, cid)))[0].cid: each sim replays
    the staged-norm expression — dot and norm² as the sequential
    d-order fold, sim = dot / (rnorm * cn) with the same Python
    centroid-norm constant — and the argmax takes the LARGEST
    (sim, cid) pair with NaN sims (zero-norm rows) above everything,
    ties to the larger cid: the ascending-cid `>=` sweep with
    NaN→+inf keys reproduces exactly that ordering (a finite +inf
    sim, which would tie with NaN here, cannot arise from finite
    inputs; zero-norm rows are out of contract — the JVM expression
    itself raises DIVIDE_BY_ZERO under ANSI).
    tests/test_arrow_scorer.py locks Arrow == JVM assignments."""
    if df.schema[vec_col].dataType.simpleString() != "array<double>":
        return None
    for f in df.schema.fields:
        st = f.dataType.simpleString()
        if st != "array<double>" and st not in _PA_TYPES:
            return None
    ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", `list_id` int"
    col_names = list(df.columns)
    vec_idx = col_names.index(vec_col)
    cents = [(int(cid), [float(x) for x in v]) for cid, v in centroids]

    def assign(batches):
        import math as _math

        import numpy as np
        import pyarrow as pa

        dim = len(cents[0][1])
        # the same Python-constant centroid norms _centroid_sims bakes
        # into the SQL literal (sum() is the same left-to-right fold)
        cns = [
            (_math.sqrt(sum(x * x for x in c)) or 1.0) for _, c in cents
        ]
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            flat = batch.column(vec_idx).flatten()
            V = flat.to_numpy(zero_copy_only=False)
            if V.size != n * dim:
                raise ValueError(
                    f"ragged {vec_col}: {V.size} values for {n} rows "
                    f"of dim {dim} (fixed-width contract)"
                )
            V = V.reshape(n, dim)
            rn = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                rn = rn + V[:, d] * V[:, d]
            rn = np.sqrt(rn)
            best_key = np.full(n, -np.inf)
            best_cid = np.zeros(n, dtype=np.int32)
            for cid, c in cents:
                acc = np.zeros(n, dtype=np.float64)
                for d in range(dim):
                    acc = acc + V[:, d] * c[d]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim = acc / (rn * cns[cid])
                key = np.where(np.isnan(sim), np.inf, sim)
                take = key >= best_key
                best_key = np.where(take, key, best_key)
                best_cid = np.where(take, np.int32(cid), best_cid)
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(batch.num_columns)]
                + [pa.array(best_cid, type=pa.int32())],
                names=col_names + ["list_id"],
            )

    return df.mapInArrow(assign, ddl)


def _centroid_sims(
    vec_col_sql: str,
    centroids: list[tuple[int, list[float]]],
    norm_ref: str | None = None,
) -> Column:
    """array<struct<sim,cid>> of cosine vs every centroid literal,
    built as ONE expression string (see :func:`_lit_vec_sql` — py4j
    round trips per literal dominated plan build otherwise).
    Deliberately FLAT (one cosine expression per centroid): nesting
    the cosine inside a transform() over a 2D centroid array drops
    the whole projection out of codegen — measured slower. The
    centroid norms are Python constants (they are literals). The row
    norm appears in every one of the n_lists divisions and the whole
    array expression evaluates as interpreted CodegenFallback with NO
    common-subexpression sharing — pass ``norm_ref`` (r15: a column
    SQL snippet holding the same norm value, staged once per row in
    the caller's previous projection) so the n_lists copies collapse
    to one attribute read (the staged-projection house rule)."""
    row_norm = norm_ref or f"sqrt(aggregate({vec_col_sql},0D,(a,v)->a+v*v))"
    parts = []
    for cid, c in centroids:
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        parts.append(
            f"named_struct('sim',{_dot_lit_sql(vec_col_sql, c)}"
            f"/({row_norm}*{cn!r}D),'cid',{int(cid)})"
        )
    return F.expr("array(" + ",".join(parts) + ")")


def _nearest_centroid(
    vec_col_sql: str,
    centroids: list[tuple[int, list[float]]],
    norm_ref: str | None = None,
) -> Column:
    """Argmax of cosine over centroid literals — array_sort keeps the
    expression LINEAR in n_lists (a when-chain that rebinds 'best'
    each step doubles the tree per centroid: 2^n nodes, driver OOM)."""
    return F.reverse(
        F.array_sort(_centroid_sims(vec_col_sql, centroids, norm_ref))
    )[0]["cid"]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    index: tuple[DataFrame, list[tuple[int, list[float]]]] | None = None,
    refine_iters: int = 0,
) -> DataFrame:
    """Approximate top-k: probe the ``nprobe`` nearest inverted lists
    per query, exact cosine re-rank inside them. The probe join is a
    hash join on ``list_id`` with the (tiny) query-probe table
    broadcast — the corpus-side work is nprobe/n_lists of a scan.
    Pass ``index`` (assigned corpus + centroids, e.g. read back from
    an ingest-time build) to skip the index build on the query path;
    ``refine_iters`` Lloyd-refines the quantizer at build time."""
    if index is not None:
        assigned, centroids = index
    else:
        assigned, centroids = ivf_index(
            corpus, n_lists, id_col, vec_col, refine_iters
        )

    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        norm(F.col(vec_col)).alias("_qnorm"),
    )
    # per query: nprobe nearest centroids -> (query, list_id) probe
    # rows; `_qnorm` doubles as the staged row norm for the sims
    # (r15: one norm evaluation instead of n_lists interpreted copies)
    sims = _centroid_sims("`_qvec`", centroids, "`_qnorm`")
    probes = q.select(
        query_id_col,
        "_qvec",
        "_qnorm",
        F.explode(
            F.slice(F.reverse(F.array_sort(sims)), 1, nprobe)
        ).alias("_p"),
    ).select(
        query_id_col, "_qvec", "_qnorm", F.col("_p.cid").alias("list_id")
    )

    # r15 second pass: double-typed inputs score through the Arrow
    # pair scorer — the broadcast probe frame shrinks to
    # (query_id, list_id) and no candidate row carries _qvec/_qnorm
    slim_cands = assigned.join(
        F.broadcast(probes.select(query_id_col, "list_id")), "list_id"
    ).select(query_id_col, id_col, vec_col)
    scored = _arrow_pair_scores(
        slim_cands, queries, id_col, vec_col, query_id_col
    )
    if scored is None:
        cands = assigned.join(F.broadcast(probes), "list_id")
        # corpus norm once per candidate row, query norm in the
        # broadcast probe frame; per-pair work is the one dot product
        scored = cands.select(
            F.col(query_id_col),
            F.col(id_col),
            (
                dot(F.col(vec_col), F.col("_qvec"))
                / (norm(F.col(vec_col)) * F.col("_qnorm"))
            ).alias("cos_sim"),
        )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(F.col("rank") <= k)


def embedding_near_dup_lsh(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 10,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """(id_a, id_b, cos_sim) near-duplicate pairs above ``threshold``
    with NO preexisting blocking column: candidates form inside LSH
    buckets (multi-table OR-amplification — high-cosine pairs land in
    the same bucket in at least one table with high probability), the
    exact cosine filters. The join is hash-keyed on (table, bucket);
    pair volume is bounded by bucket sizes, never all-pairs. This is
    the self-contained 100 TB path; :func:`embedding_near_dup` is the
    variant for corpora that already carry a blocking key."""
    sig = lsh_buckets_array(f"`{vec_col}`", dim, n_planes, n_tables, seed)
    # norm staged once per ROW (r15 second pass, same reasoning as
    # embedding_near_dup): the inline cosine re-folded both norms per
    # PAIR, and the fully inlined 384-term form exceeded whole-stage
    # codegen's 64 KB consume-method limit — a failed (uncached)
    # janino compile per action. Same fold order, same dot/(na*nb)
    # grouping — bit-identical values.
    bucketed = df.select(
        F.col(id_col), F.col(vec_col),
        norm_fixed(f"`{vec_col}`", dim).alias("_n"),
        F.posexplode(sig).alias("table", "bucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("_va"),
            F.col(f"b.{vec_col}").alias("_vb"),
            F.col("a._n").alias("_na"),
            F.col("b._n").alias("_nb"),
        )
        # a pair sharing buckets in several tables appears once
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.select(
        "id_a",
        "id_b",
        (
            dot_fixed("`_va`", "`_vb`", dim)
            / (F.col("_na") * F.col("_nb"))
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cos_sim) pairs above threshold. ``block_col``
    restricts comparisons to a blocking key (at scale: an LSH bucket
    or cluster id) so the join is hash-keyed, not a cross join.
    ``dim`` (r15): known fixed width switches the cosine to the
    unrolled codegen'd form — bit-identical values. Norms are staged
    once per ROW before the join (r15 second pass): the inline
    cosine recomputed both norms for EVERY pair — within-block
    fan-out times two 64-element folds — and the 384-term fully
    inlined form also blew whole-stage codegen's 64 KB consume-method
    limit (the method cannot split over deserialized local variables),
    so every action paid a ~17k-line janino compile that failed
    before falling back, uncached. The staged form keeps the same
    fold order and the same ``dot/(na*nb)`` grouping — bit-identical
    values — with only the 64-term dot per pair, which compiles."""
    nrm = (
        norm_fixed(f"`{vec_col}`", dim) if dim else norm(F.col(vec_col))
    )
    # dict.fromkeys dedupes in case block_col == id_col (a duplicate
    # column here would make the self-join references ambiguous)
    keep = list(
        dict.fromkeys([id_col] + ([block_col] if block_col is not None else []))
    )
    staged = df.select(*keep, F.col(vec_col), nrm.alias("_n"))
    a = staged.alias("a")
    b = staged.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col is not None:
        cond = (F.col(f"a.{block_col}") == F.col(f"b.{block_col}")) & cond
    cos = (
        dot_fixed(f"a.`{vec_col}`", f"b.`{vec_col}`", dim)
        if dim
        else dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    ) / (F.col("a._n") * F.col("b._n"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """(group, dim, centroid) — element-wise mean embedding per group,
    the k-means/IVF training primitive (pipeline/similarity.py's IVF
    index seeds its Lloyd iterations from exactly this aggregate).

    Shape: posexplode to (group, dim, value) then one groupBy — the
    per-dimension partial sums combine map-side, so the shuffle
    carries |groups| x dim rows regardless of corpus size. Output is
    long-form (group, dim, centroid) rather than a re-assembled
    array: downstream joins (assignment, residuals) want the
    exploded key anyway, and it keeps the oracle comparable.
    Rounded to ``decimals`` so cross-engine float summation order
    (~1e-7 relative on fp32 inputs) cannot flip the compare."""
    exploded = df.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    )
    return (
        exploded.groupBy(group_col, "dim")
        .agg(F.avg(F.col("val").cast("double")).alias("_avg"))
        .select(
            group_col,
            F.col("dim").cast("long").alias("dim"),
            # + 0.0 folds IEEE negative zero to +0.0: a tiny negative
            # mean rounds to -0.0 in engines that round the binary
            # value but +0.0 in Spark's BigDecimal path
            (F.round("_avg", decimals) + F.lit(0.0)).alias("centroid"),
        )
    )


def embedding_gram(
    df: DataFrame,
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Second-moment matrix of the embedding column — the one
    aggregate PCA / whitening / ZCA needs from the corpus. Long-form
    upper triangle ``(i, j, n, sum_xy, cov_xy)`` with i <= j
    (0-based): ``sum_xy`` is the raw Gram entry, ``cov_xy`` the
    covariance via the textbook one-pass identity
    ``(sxy - sx*sy/n) / n`` (population normalization).

    Scale shape: the explode materializes d(d+1)/2 product rows per
    vector INSIDE codegen, but the hash aggregate map-side combines,
    so the shuffle carries only d(d+1)/2 partial rows per map task —
    independent of corpus size. The FLOPs are inherently d^2*N; what
    must not scale with N is the shuffle, and it doesn't. For
    wall-clock at large d, :func:`embedding_gram_blas` does the same
    contraction as per-batch BLAS ``X.T @ X`` (bit-inexact across
    partitionings — this declarative form is the oracle-stable one).

    fp32 inputs cast to double make every product EXACT (24+24 < 53
    significand bits); only the summation order differs between
    engines (~1e-13 relative), which ``ROUND(decimals)`` absorbs.
    ``+ 0.0`` folds IEEE -0.0 like :func:`embedding_centroids`."""
    x = df.select(
        F.posexplode(F.col(vec_col)).alias("i", "_xi"),
        F.col(vec_col).alias("_v"),
    )
    pairs = x.select(
        "i",
        F.col("_xi").cast("double").alias("_xd"),
        F.posexplode(F.expr("slice(_v, i + 1, size(_v) - i)")).alias(
            "_o", "_xj"
        ),
    ).select(
        F.col("i").cast("long").alias("i"),
        (F.col("i") + F.col("_o")).cast("long").alias("j"),
        "_xd",
        F.col("_xj").cast("double").alias("_yd"),
    )
    agg = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_xd") * F.col("_yd")).alias("_sxy"),
        F.sum("_xd").alias("_sx"),
        F.sum("_yd").alias("_sy"),
    )
    cov = (
        F.col("_sxy") - F.col("_sx") * F.col("_sy") / F.col("n")
    ) / F.col("n")
    return agg.select(
        "i",
        "j",
        F.col("n").cast("long").alias("n"),
        (F.round("_sxy", decimals) + F.lit(0.0)).alias("sum_xy"),
        (F.round(cov, decimals) + F.lit(0.0)).alias("cov_xy"),
    )


def embedding_gram_blas(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """The wall-clock path for :func:`embedding_gram`: per-Arrow-batch
    ``X.T @ X`` / column sums in numpy (one BLAS call per batch, no
    per-element rows), then a d(d+1)/2-row exact-shape reduce. Output
    columns (i, j, n, sum_xy, sum_x, sum_y) UNROUNDED — float64
    totals whose low bits depend on partition boundaries, so this is
    the throughput twin, verified against :func:`embedding_gram` to
    1e-6 in tests, not an oracle surface."""
    import numpy as np  # local: keeps module import light
    import pandas as pd

    def _partials(batches):
        for pdf in batches:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if mat.size == 0:
                continue
            g = mat.T @ mat
            s = mat.sum(axis=0)
            d = mat.shape[1]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype("int64"),
                    "j": ju.astype("int64"),
                    "n": np.full(iu.shape, mat.shape[0], dtype="int64"),
                    "sum_xy": g[iu, ju],
                    "sum_x": s[iu],
                    "sum_y": s[ju],
                }
            )

    schema = (
        "i long, j long, n long, sum_xy double, sum_x double, "
        "sum_y double"
    )
    partial = df.select(vec_col).mapInPandas(_partials, schema=schema)
    return partial.groupBy("i", "j").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_xy").alias("sum_xy"),
        F.sum("sum_x").alias("sum_x"),
        F.sum("sum_y").alias("sum_y"),
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.97,
    n_lists: int = 16,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup (Abbas et al. 2023 shape): cluster the embedding
    space with the distributed Lloyd quantizer (`ivf_index` — one
    corpus scan + one bounded aggregate per iteration), then compute
    EXACT cosine pairs only WITHIN a cluster and greedily drop the
    larger id of every pair above ``threshold`` (the paper keeps one
    representative per semantic-duplicate group; min-id is the
    deterministic choice).

    Returns (kept, pairs). Scale shape: the pair join is hash-keyed
    on list_id — never all-pairs — and cluster sizes are bounded by
    the quantizer granularity (n_lists scales with corpus size; at
    100 TB the assigned table is written partitioned by list_id).
    Semantic duplicates straddling a cluster boundary are missed —
    the standard SemDeDup trade, recovered by raising n_lists'
    overlap via refine_iters (tighter, better-centered lists)."""
    assigned, cents = ivf_index(
        df, n_lists, id_col, vec_col, refine_iters=refine_iters
    )
    pairs = embedding_near_dup(
        assigned,
        threshold=threshold,
        block_col="list_id",
        id_col=id_col,
        vec_col=vec_col,
        dim=len(cents[0][1]) if cents else None,
    )
    doomed = pairs.select(F.col("id_b").alias(id_col)).distinct()
    kept = df.join(doomed, id_col, "left_anti")
    return kept, pairs


def embedding_outliers(
    df: DataFrame,
    k: int = 5,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-``k`` farthest vectors from their group's centroid —
    the embedding-space outlier screen (mislabeled / off-domain /
    corrupt rows surface here first; SemDeDup's complement). Distance
    is squared euclidean to the ROUNDED centroid from
    ``embedding_centroids`` — the rounding anchors the centroid to an
    engine-portable value, and the per-vector distance is a
    SEQUENTIAL left-to-right fold over dims (deterministic on both
    engines, unlike a row-order-dependent group sum).

    Scale shape: centroids are |groups| x dim — broadcast; the
    distance pass is map-only. The per-group top-k is two-phase via
    the engine's rank-limit pushdown (SPARK-37099): a Partial
    WindowGroupLimit truncates every map partition to k rows per
    group BEFORE the exchange, so the reducer sees <= k x
    n_partitions survivors even though group cardinality is small
    (labels, sources) — the hand-rolled (group, partition_id)
    pre-window the r15 round removed duplicated that bound at the
    cost of an extra Sort+Exchange+Window pass."""
    from openset_spark.pipeline.similarity import embedding_centroids

    cents = embedding_centroids(df, group_col=group_col, vec_col=vec_col)
    carr = (
        cents.groupBy(group_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "centroid"))
            ).alias("_s")
        )
        .select(
            group_col, F.expr("transform(_s, x -> x.centroid)").alias("_c")
        )
    )
    joined = df.join(F.broadcast(carr), group_col)
    diff = F.zip_with(
        F.col(vec_col),
        F.col("_c"),
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    d2 = F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v)
    scored = joined.select(
        group_col,
        F.col(id_col),
        (F.round(d2, 4) + F.lit(0.0)).alias("d2"),
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("d2"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_candidate_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    n_lists: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    index: tuple[DataFrame, list[tuple[int, list[float]]]] | None = None,
    refine_iters: int = 0,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Candidate (query_id, id) pairs from the IVF coarse quantizer —
    the generator the label-aware kNN ops plug in via ``candidates=``
    (VERDICT r9 ask #3). Per query: the ``nprobe`` nearest inverted
    lists; candidates = every corpus vector assigned to a probed
    list. Same probe-join shape as :func:`ivf_topk` (broadcast probe
    table, corpus-side cost nprobe/n_lists of a scan) but WITHOUT the
    scoring — the consumer scores only these pairs. Pass ``index``
    to reuse an ingest-time build (at 100 TB the assigned table is
    partitioned by list_id, so the probe join prunes partitions).

    ``payload_cols`` carries corpus columns (the vector, the label)
    on each pair row, making the frame SELF-SCORING: the consumer
    skips its corpus re-join entirely, so the whole candidate path
    is broadcast joins over one pruned index scan — zero shuffles.

    Probe selection here joins a 16-row centroid DataFrame instead
    of compiling per-centroid literal expressions (ivf_topk's corpus
    -assignment trick): the query side is small, and the literal
    form costs seconds of whole-stage-codegen COMPILE per execution
    at dim 64 — driver time that dominates small query batches."""
    if index is not None:
        assigned, centroids = index
    else:
        assigned, centroids = ivf_index(
            corpus, n_lists, id_col, vec_col, refine_iters
        )
    cent_df = queries.sparkSession.createDataFrame(
        [(int(cid), [float(x) for x in v]) for cid, v in centroids],
        "list_id int, _cvec array<double>",
    )
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    sims = (
        q.crossJoin(F.broadcast(cent_df))
        .select(
            query_id_col,
            "list_id",
            (
                dot(F.col("_qvec"), F.col("_cvec"))
                / (norm(F.col("_qvec")) * norm(F.col("_cvec")))
            ).alias("_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("_sim"), F.asc("list_id")
    )
    probes = (
        sims.withColumn("_pr", F.row_number().over(w))
        .filter(F.col("_pr") <= nprobe)
        .select(query_id_col, "list_id")
    )
    return assigned.join(F.broadcast(probes), "list_id").select(
        query_id_col, id_col, *payload_cols
    )


def _label_scored(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    query_id_col: str,
    candidates: DataFrame | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """Shared scorer for the label-aware kNN ops: corpus x broadcast
    queries, self-pairs excluded, one dot product per pair (norms
    precomputed per row exactly like :func:`brute_force_topk` so the
    cosine values are bit-identical to it).

    ``candidates`` (a (query_id, id) pair frame, e.g. from
    :func:`ivf_candidate_pairs` or an LSH bucket join) restricts
    scoring to those pairs: the corpus joins the candidate frame on
    id (AQE picks broadcast vs shuffle by size) and only then meets
    the broadcast query frame — corpus rows outside any candidate
    list are never scored, which is what makes corpus-scale query
    sets affordable. The exact crossJoin remains the default (and
    the oracle path). A candidate frame that already CARRIES
    ``label_col`` and ``vec_col`` (ivf_candidate_pairs
    ``payload_cols``) is self-scoring — the corpus re-join is
    skipped and the path is pure broadcast joins over the pruned
    index scan.

    ``assume_distinct`` skips the pair dedup — REQUIRED correct only
    when the generator emits each (query, id) at most once (IVF
    assigns every vector to exactly one list, so
    :func:`ivf_candidate_pairs` qualifies; multi-table LSH does
    NOT). Duplicate pairs would double-count rows in the top-k cut,
    and the dedup is a full shuffle of the pair frame — the single
    biggest cost of the candidate path when it isn't needed."""
    if candidates is None:
        # exact crossJoin path: double-typed inputs route through the
        # bit-identical Arrow batch scorer (guide §4.2) — same single
        # corpus scan, ~µs-per-pair interpreted HOF fold replaced by
        # one vectorized pass per batch. Self-pairs are excluded
        # inside the scorer, mirroring the filter below.
        arrow = _arrow_cross_scores(
            corpus, queries, id_col, vec_col, query_id_col,
            label_col=label_col, exclude_self=True,
        )
        if arrow is not None:
            return arrow.select(
                query_id_col, "_qlabel", id_col, label_col, "cos_sim"
            )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(label_col).alias("_qlabel"),
            F.col(vec_col).alias("_qvec"),
            norm(F.col(vec_col)).alias("_qnorm"),
        )
    )
    c = corpus.select(
        F.col(id_col),
        F.col(label_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("_cnorm"),
    )
    if candidates is None:
        paired = c.crossJoin(q)
    elif label_col in candidates.columns and vec_col in candidates.columns:
        # self-scoring payload frame: no corpus re-join. Double-typed
        # vectors route through the Arrow pair scorer (r15): the
        # dedup shuffle and the scored rows never carry
        # _qvec/_qnorm/_cnorm payload.
        slim = candidates.select(query_id_col, id_col, label_col, vec_col)
        if not assume_distinct:
            slim = slim.dropDuplicates([query_id_col, id_col])
        arrow = _arrow_pair_scores(
            slim, queries, id_col, vec_col, query_id_col,
            label_col=label_col,
        )
        if arrow is not None:
            return arrow.filter(
                F.col(id_col) != F.col(query_id_col)
            ).select(query_id_col, "_qlabel", id_col, label_col, "cos_sim")
        cand = slim.withColumn("_cnorm", norm(F.col(vec_col)))
        paired = cand.join(q, query_id_col)
    else:
        cand = candidates.select(query_id_col, id_col)
        if not assume_distinct:
            cand = cand.distinct()
        slim = corpus.select(id_col, label_col, vec_col).join(cand, id_col)
        arrow = _arrow_pair_scores(
            slim, queries, id_col, vec_col, query_id_col,
            label_col=label_col,
        )
        if arrow is not None:
            return arrow.filter(
                F.col(id_col) != F.col(query_id_col)
            ).select(query_id_col, "_qlabel", id_col, label_col, "cos_sim")
        paired = c.join(cand, id_col).join(q, query_id_col)
    return (
        paired.filter(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col("_qlabel"),
            F.col(id_col),
            F.col(label_col),
            (
                dot(F.col(vec_col), F.col("_qvec"))
                / (F.col("_cnorm") * F.col("_qnorm"))
            ).alias("cos_sim"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    candidates: DataFrame | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """Contrastive-training hard-negative mining: for every query,
    the nearest SAME-label neighbour (the positive, self excluded)
    and the nearest DIFFERENT-label neighbour (the hard negative),
    plus the margin between them. A small/negative margin flags
    queries whose nearest impostor outranks their nearest true
    neighbour — the rows worth mining for triplet / InfoNCE batches.

    Output: (query_id, pos_id, pos_sim, neg_id, neg_sim, margin),
    sims rounded at 4, margin = ROUND(pos - neg, 4) on the UNROUNDED
    doubles (both engines subtract identical IEEE values, so the
    round is portable).

    Scale shape: queries broadcast, corpus scanned once, and the
    argmax is ONE hash aggregate of max-of-struct — (cos_sim,
    -id, id) compares fieldwise, so the max IS "highest cosine,
    ties to lowest id". max() partial-aggregates map-side, so no
    stage ever holds a query's full |corpus| candidate list (the
    rank-1 window form pins it on one reducer per (query, side) —
    the embedding_outliers anti-pattern). For corpus-scale query
    sets pass ``candidates=`` (e.g. :func:`ivf_candidate_pairs`) to
    restrict scoring to a candidate pair frame; the exact crossJoin
    stays the default/oracle path. With candidates, a query probing
    lists that hold no same-label (or no different-label) vector
    reports NULL on that side — mine with nprobe high enough that
    both sides are populated."""
    scored = _label_scored(
        corpus, queries, id_col, vec_col, label_col, query_id_col,
        candidates=candidates, assume_distinct=assume_distinct,
    ).withColumn("_same", F.col(label_col) == F.col("_qlabel"))
    pick = F.struct(
        F.col("cos_sim").alias("s"),
        (-F.col(id_col)).alias("n"),
        F.col(id_col).alias("i"),
    )
    return (
        scored.groupBy(query_id_col)
        .agg(
            F.max(F.when(F.col("_same"), pick)).alias("_p"),
            F.max(F.when(~F.col("_same"), pick)).alias("_n"),
        )
        .select(
            query_id_col,
            F.col("_p.i").alias("pos_id"),
            F.col("_p.s").alias("_ps"),
            F.col("_n.i").alias("neg_id"),
            F.col("_n.s").alias("_ns"),
        )
        .select(
            query_id_col,
            "pos_id",
            F.round("_ps", 4).alias("pos_sim"),
            "neg_id",
            F.round("_ns", 4).alias("neg_sim"),
            F.round(F.col("_ps") - F.col("_ns"), 4).alias("margin"),
        )
    )


def knn_label_agreement(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    candidates: DataFrame | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """Embedding-quality metric: for each query, what fraction of its
    k nearest neighbours (self excluded) share its label — then the
    per-label summary. High agreement = the embedding separates that
    class; a label whose agreement sits near the class prior is noise
    or collapsed. Integer ppm (matches * 1e6 div k * n_queries) keeps
    the frame float-free and engine-portable.

    Output: (label, n_queries, match_ppm).

    Scale shape: the top-k cut is two-phase WITHOUT a hand-rolled
    local pass — Spark's rank-limit pushdown (SPARK-37099) plants a
    Partial WindowGroupLimit in every map task ahead of the exchange,
    so each partition ships <= k rows per query and no reducer ever
    holds a query's full |corpus| candidate list. (r15: the explicit
    (query, partition_id) pre-window duplicated exactly that bound at
    the cost of an extra Sort+Exchange+Window pass — verify
    `WindowGroupLimit ... Partial` in the plan when touching this.)
    ``candidates=`` (e.g. :func:`ivf_candidate_pairs`) restricts
    scoring to a candidate pair frame — the affordable shape when the
    query set is itself corpus-scale; agreement then measures the
    probed neighbourhood (equal to exact whenever the true top-k are
    inside it)."""
    scored = _label_scored(
        corpus, queries, id_col, vec_col, label_col, query_id_col,
        candidates=candidates, assume_distinct=assume_distinct,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    topk = scored.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    per_q = topk.groupBy(query_id_col, "_qlabel").agg(
        F.sum(
            F.when(F.col(label_col) == F.col("_qlabel"), 1).otherwise(0)
        ).alias("_m")
    )
    return (
        per_q.groupBy(F.col("_qlabel").alias(label_col))
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.sum("_m").alias("_mm"),
        )
        .select(
            label_col,
            "n_queries",
            F.expr(f"(_mm * 1000000) div ({k} * n_queries)").alias(
                "match_ppm"
            ),
        )
    )


def embedding_drift(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Online embedding-drift monitor, batch form: for every vector
    (in ``id_col`` order within its label) the squared distance to
    the centroid of all PRIOR same-label vectors — the statistic a
    live ingest monitor alarms on when a feed's embedding
    distribution walks away from its history. First arrival per label
    has no prior and is omitted.

    Determinism: prefix sums per (label, dim) ride a running window
    (sequential adds in id order — the same left fold the streaming
    twin's state update performs), and the across-dims reduction is a
    sequential `aggregate` over the dim-sorted array on both engines
    (list_sum over an ORDER BY dim list in the oracle). The streaming
    twin (`streaming/drift.py::stream_embedding_drift`) is
    bit-identical, not just value-close.

    Output: (label, vec_id, n_prior, d2) with d2 = ROUND(.., 4).

    Scale shape: one explode to (label, dim) — 64x row multiplication
    of a 2-scalar projection, partitioned by (label, dim) so the
    running sums parallelise across dims; the regroup is a hash
    aggregate keyed by (label, id)."""
    ex = df.select(
        F.col(label_col),
        F.col(id_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "dim", "x"
        ),
    )
    w = (
        Window.partitionBy(label_col, "dim")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pr = ex.select(
        label_col,
        id_col,
        "dim",
        "x",
        F.sum("x").over(w).alias("_psum"),
        F.count("x").over(w).alias("_pn"),
    ).filter(F.col("_pn") > 0)
    terms = pr.groupBy(label_col, id_col).agg(
        F.max("_pn").alias("n_prior"),
        F.array_sort(
            F.collect_list(F.struct("dim", "x", "_psum", "_pn"))
        ).alias("_t"),
    )
    d2 = F.aggregate(
        F.col("_t"),
        F.lit(0.0),
        lambda acc, t: acc
        + (t["x"] - t["_psum"] / t["_pn"])
        * (t["x"] - t["_psum"] / t["_pn"]),
    )
    return terms.select(
        label_col,
        id_col,
        "n_prior",
        (F.round(d2, 4) + F.lit(0.0)).alias("d2"),
    )


def embedding_health(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    expected_dim: int | None = None,
) -> DataFrame:
    """Per-label embedding-table sanity audit — the ingest gate an
    ANN/semantic-dedup pipeline runs before building any index
    (a handful of NaN vectors silently poison IVF centroids and
    cosine re-ranks): (label, n_vecs, n_null_vec, n_wrong_dim,
    n_with_nan, n_with_null_elem, n_zero_vec). COUNTS ONLY — every
    column is integer-exact cross-engine; no float aggregates, no
    rounding contract (the pii_report no-false-positive posture on
    clean corpora, positive semantics pinned in pytest).

    ``expected_dim`` defaults to the MODE dimension (most frequent
    size among non-null vectors, ties to the smallest — one bounded
    aggregate, collected as a driver scalar). ``n_zero_vec`` counts
    all-zero vectors among CLEAN ones only (no NaN, no null
    element) — on dirty vectors Spark's forall and a filter-based
    SQL replay diverge over null/NaN comparison semantics, so the
    contract excludes them. One groupBy shuffle on the label."""
    v = F.col(vec_col)
    if expected_dim is None:
        dims = (
            df.filter(v.isNotNull())
            .groupBy(F.size(v).alias("d"))
            .count()
            .orderBy(F.desc("count"), F.asc("d"))
        )
        first = dims.first()
        if first is None:
            raise ValueError("no non-null vectors to derive dim from")
        expected_dim = int(first["d"])
    has_nan = F.coalesce(
        F.exists(v, lambda x: F.isnan(x)), F.lit(False)
    )
    has_null = F.coalesce(
        F.exists(v, lambda x: x.isNull()), F.lit(False)
    )
    clean = v.isNotNull() & ~has_nan & ~has_null
    all_zero = clean & F.forall(v, lambda x: x == 0)
    return df.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(v.isNull().cast("long")).alias("n_null_vec"),
        F.sum(
            (v.isNotNull() & (F.size(v) != F.lit(expected_dim))).cast(
                "long"
            )
        ).alias("n_wrong_dim"),
        F.sum(has_nan.cast("long")).alias("n_with_nan"),
        F.sum(has_null.cast("long")).alias("n_with_null_elem"),
        F.sum(all_zero.cast("long")).alias("n_zero_vec"),
    )
