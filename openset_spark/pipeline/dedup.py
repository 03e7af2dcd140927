"""Deduplication operators for training-data pipelines.

Five tiers, all shuffle-bounded (no O(n^2) cross joins at scale):

- exact:     hash-groupBy on normalized text — one shuffle.
- minhash:   word-shingle MinHash signatures -> LSH bands -> bucket
             join. Candidate pairs only form inside a band bucket, so
             the join is a hash join on (band_idx, band_hash) whose
             fan-out is controlled by band width. All signature math
             is JVM expressions (xxhash64 + min aggregates).
- simhash:   64-bit simhash via per-bit token votes (JVM aggregate),
             near-dup candidates = equal 16-bit simhash blocks
             (hamming<=3 guarantee via 4-block pigeonhole).
- jaccard:   exact token-set Jaccard via explode + join on token —
             for verification and small corpora (it IS quadratic in
             matching pairs; LSH variants above are the scale path).
- containment: |A∩B| / min(|A|,|B|) over df-capped shingle sets —
             the asymmetric subset-dup detector MinHash cannot rank
             (r8; `containment_pairs`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from openset_spark.functions.text import (
    normalize,
    shingles_from_tokens,
    tokens,
    word_shingles,
)


# ---------- exact ----------
def exact_dedup_clusters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(text_hash, n_docs, min_doc_id keeper) for duplicated normalized
    texts; one hash-partitioned aggregate."""
    return (
        df.select(
            F.md5(normalize(F.col(text_col))).alias("text_hash"), F.col(id_col)
        )
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper_doc_id"),
        )
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one doc per normalized text (the min id) — the drop pass.

    r16 shape: a min-id window over the hash group + a row-local
    filter — ONE corpus scan and ONE exchange (by text_hash). The
    old clusters-aggregate + left-semi join back on the id ran the
    corpus scan twice and paid a second corpus-sized exchange keyed
    on the id for the join. Same rows: a row survives iff its id is
    the group's minimum."""
    w = Window.partitionBy(F.md5(normalize(F.col(text_col))))
    return (
        df.withColumn("_keep_min", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_keep_min"))
        .drop("_keep_min")
    )


# ---------- minhash + LSH ----------
def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, mh: array<long>) MinHash signature over word shingles.

    Shape matters at scale: tokens are materialized in their own
    projection (inlining the normalize/split tree into every shingle
    expression defeats CSE — ~5x slower measured at sf0.1), shingles
    are EXPLODED to rows and hashed ONCE (strings touched a single
    time), then each signature slot is ``min(xxhash64(base, i))`` over
    the 8-byte base hash — partial-aggregatable map-side, one shuffle
    by doc id, per-slot cost independent of shingle length.
    """
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    exploded = toked.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("_toks"), shingle_n))
        ).alias("shingle"),
    ).select(F.col(id_col), F.xxhash64("shingle").alias("_h"))
    # The 64 slot hashes stay JVM expressions: whole-stage codegen
    # evaluates all of them per row in ONE fused pass over the shingle
    # stream. A bit-identical Arrow/NumPy slot pass measured slower
    # (OPTIMIZATION_r16.md §4).
    #
    # ALL slot aggregates in ONE expression string (an array of
    # min(xxhash64(...)) aggregates): building them as 64 separate
    # F.min(F.xxhash64(F.lit(i))) Columns costs several py4j round
    # trips each — ~1s of DRIVER time per plan build, measured (same
    # lesson as similarity._lit_vec_sql)
    slots = ",".join(f"min(xxhash64(_h, {i}))" for i in range(num_hashes))
    return exploded.groupBy(id_col).agg(
        F.expr(f"array({slots})").alias("mh")
    )


def with_minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    out_col: str = "band_keys",
) -> DataFrame:
    """Add each document's LSH band keys (``out_col``: array<long> of
    length ``bands``) as PURE per-row projections — no shuffle, no
    state, so the same transform drops into a STREAMING pipeline
    (streaming/dedup.py::stream_near_dedup). Value-identical to
    `minhash_bands` (tested): same tokens, the same
    whole-text-shingle fallback for short docs, the same
    xxhash64(shingle) → min(xxhash64(h, slot)) signature and band
    hash. Batch prefers `minhash_bands`: hashing each shingle once
    via the explode is cheaper when signatures feed a bucket join
    anyway. Staged as real intermediate columns so the shingle array
    and per-shingle hashes are computed once per row, not once per
    signature slot."""
    rows = num_hashes // bands
    shingled = df.withColumn(
        "_sh",
        F.array_distinct(
            shingles_from_tokens(tokens(F.col(text_col)), shingle_n)
        ),
    ).withColumn("_hs", F.transform(F.col("_sh"), lambda s: F.xxhash64(s)))
    slots = ",".join(
        f"array_min(transform(_hs, h -> xxhash64(h, {i})))"
        for i in range(num_hashes)
    )
    sig = shingled.withColumn("_mh", F.expr(f"array({slots})"))
    band_hashes = F.expr(
        "array("
        + ",".join(
            "xxhash64("
            + ",".join(
                f"element_at(_mh, {b * rows + j + 1})" for j in range(rows)
            )
            + ")"
            for b in range(bands)
        )
        + ")"
    )
    return sig.withColumn(out_col, band_hashes).drop("_sh", "_hs", "_mh")


def near_dup_against(
    docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Documents that near-duplicate NOTHING in ``corpus`` — the
    incremental-ingest filter ("drop arrivals already represented in
    the training set"). A doc is dropped when ANY of its LSH bands
    hits a corpus bucket; docs too short to shingle always pass (they
    have no bands). Both sides are banded once and the decision is a
    semi-join on the bucket key + an anti-join on the matched ids —
    never a pairwise comparison."""
    cb = (
        minhash_bands(corpus, text_col, id_col, num_hashes, bands, shingle_n)
        .select("band_idx", "band_hash")
        .distinct()
    )
    db = minhash_bands(docs, text_col, id_col, num_hashes, bands, shingle_n)
    matched = (
        db.join(cb, ["band_idx", "band_hash"], "left_semi")
        .select(id_col)
        .distinct()
    )
    return docs.join(matched, id_col, "left_anti")


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Explode each doc into (band_idx, band_hash) LSH bucket keys."""
    rows = num_hashes // bands
    sig = minhash_signature(df, text_col, id_col, num_hashes, shingle_n)
    band_hashes = F.expr(
        "array("
        + ",".join(
            "xxhash64("
            + ",".join(
                f"element_at(mh, {b * rows + j + 1})" for j in range(rows)
            )
            + ")"
            for b in range(bands)
        )
        + ")"
    )
    return sig.select(
        F.col(id_col),
        F.posexplode(band_hashes).alias("band_idx", "band_hash"),
    )


def _pairs_expr(ids_col) -> Column:
    """All ordered (id_a < id_b) pairs from a SORTED id array, as an
    array<struct<id_a,id_b>> — generated JVM-side with nested
    ``transform``; shared by bucket-pair candidate generation here and
    fingerprint matching in pipeline/winnow.py."""
    return F.flatten(
        F.transform(
            ids_col,
            lambda x, i: F.transform(
                F.slice(ids_col, i + 2, F.size(ids_col)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _bucket_pairs(
    bucketed: DataFrame, bucket_cols: list[str], id_col: str
) -> DataFrame:
    """(id_a, id_b) distinct pairs of ids sharing a bucket.

    One groupBy on the bucket key (the upstream sketch is computed
    exactly once — a self-join would execute it twice, once per side),
    then pairs are generated JVM-side from the sorted id array. Bucket
    fan-out is quadratic in bucket size by definition of LSH candidate
    generation; degenerate buckets (e.g. millions of empty docs) must
    be handled upstream by exact-dedup first, which collapses them."""
    ids = F.array_sort(F.collect_set(id_col))
    grouped = bucketed.groupBy(*bucket_cols).agg(ids.alias("_ids"))
    pairs = _pairs_expr(F.col("_ids"))
    return (
        grouped.filter(F.size("_ids") >= 2)
        .select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.id_a"), F.col("_p.id_b"))
        .distinct()
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) that share >=1 LSH band.

    Pairs form only inside a (band_idx, band_hash) bucket — at 100 TB
    this is one hash-partitioned aggregate over 16 rows/doc, never a
    corpus-wide cross join.
    """
    banded = minhash_bands(df, text_col, id_col, num_hashes, bands, shingle_n)
    return _bucket_pairs(banded, ["band_idx", "band_hash"], id_col)


# ---------- simhash ----------
def simhash64(text: Column, bits: int = 64) -> Column:
    """SimHash of the token stream (JVM aggregate, no UDF): bit b of the
    result = majority vote of bit b over xxhash64(token). The bit loop
    is unrolled in Python (shift amounts must be literals), producing a
    static expression tree that codegen handles."""
    hashes = F.transform(tokens(text), lambda t: F.xxhash64(t))

    def _voter(b: int):
        # closure (not a default arg: pyspark reads lambda arity)
        return lambda votes, h: votes + (
            F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1
        )

    out = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), _voter(b))
        bit = (1 << b) if b < 63 else -(1 << 63)  # signed-64 wraparound
        out = out + F.when(vote > 0, F.lit(bit).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def simhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """(id, _sim) 64-bit SimHash per doc, exploded-vote shape.

    Tokens are exploded and hashed once; each bit is a plain
    ``sum(±1)`` aggregate (map-side partial, one shuffle by doc id).
    The column-function form (`simhash64`) re-evaluates the tokenize+
    hash tree once PER BIT — 64x the work; this shape is the scale
    path."""
    exploded = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok")
    ).select(F.col(id_col), F.xxhash64("_tok").alias("_h"))
    votes = exploded.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright("_h", b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v_{b}")
            for b in range(bits)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(bits):
        bit = (1 << b) if b < 63 else -(1 << 63)  # signed-64 wraparound
        sim = sim + F.when(F.col(f"v_{b}") > 0, F.lit(bit).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select(F.col(id_col), sim.alias("_sim"))


def simhash_candidates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", blocks: int = 4
) -> DataFrame:
    """Near-dup candidates = pairs sharing any 16-bit simhash block
    (pigeonhole: hamming distance <= blocks-1 guarantees a shared
    block). Join is keyed on (block_idx, block_value)."""
    width = 64 // blocks
    sim = simhash_signature(df, text_col, id_col)
    block_arr = F.array(
        *[
            F.shiftright(F.col("_sim"), i * width).bitwiseAND(F.lit((1 << width) - 1))
            for i in range(blocks)
        ]
    )
    blocked = sim.select(
        F.col(id_col),
        F.posexplode(block_arr).alias("block_idx", "block_value"),
    )
    return _bucket_pairs(blocked, ["block_idx", "block_value"], id_col)


# ---------- exact token-set Jaccard ----------
def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 1,
) -> DataFrame:
    """(id_a, id_b, jaccard) over distinct token (shingle_n=1) or word
    n-gram shingle sets, pairs meeting threshold. Explode+join: only
    docs sharing a token ever meet."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    units = (
        F.col("_toks")
        if shingle_n == 1
        else shingles_from_tokens(F.col("_toks"), shingle_n)
    )
    tok = toked.select(
        F.col(id_col), F.explode(F.array_distinct(units)).alias("tok")
    )
    # Per-doc set size is size(array_distinct(units)) computed
    # ROW-LOCALLY on its own branch — same integer the old
    # groupBy-count over the exploded distinct stream produced, minus
    # that branch's corpus-sized token exchange (the explode + count
    # shuffled every token instance just to count per doc). Joining
    # the sizes back onto the PAIR frame stays: the pair frame is the
    # aggregate's OUTPUT (result-sized), so the two joins touch far
    # fewer rows than carrying sizes through the join fan-out stream —
    # the carry variant measured 35% slower end-to-end at sf0.1
    # (193s vs 143s) because the fan-out is the corpus-scale stream
    # and every extra aggregate buffer is paid per fan-out row.
    sizes = toked.select(
        F.col(id_col),
        F.size(F.array_distinct(units)).cast("long").alias("sz"),
    )
    a = tok.alias("a")
    b = tok.alias("b")
    common = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    algorithm: str = "star",
    driver_threshold: int | None = 100_000,
) -> DataFrame:
    """Connected components over candidate duplicate PAIRS: the step
    every dedup family needs after pair generation — near-duplication
    is transitive in practice (A~B, B~C usually means one family),
    and keep-one-per-cluster needs the cluster, not the pair list.
    Returns (doc_id, cluster_id) where cluster_id = min doc id in the
    component; docs in no pair are not emitted (they are their own
    keepers by definition).

    ``algorithm="star"`` (default) is alternating large-star /
    small-star (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond"): each round reattaches every node to the
    minimum of its neighborhood, so component depth roughly HALVES
    per round — O(log n) rounds on any graph shape. That bound is
    what survives 100 TB: dup graphs are often near-cliques
    (diameter 2-3), but drifting-text families produce CHAINS whose
    diameter grows with cluster size, and the simpler min-label
    propagation (``algorithm="propagate"``, kept as the verification
    twin — equality is tested on cliques, chains and random graphs)
    needs a round per hop. Both use `localCheckpoint` each round so
    the plan never deepens, and a driver-side loop over a handful of
    rounds — never a per-row collect. Edge sets at or below
    ``driver_threshold`` short-circuit to an exact driver-side
    union-find (collect bounded by the threshold — the same
    small-side judgement a broadcast join makes); pass None to force
    the distributed loop."""
    # r15: symmetrize with ONE reference to ``pairs`` — the union of
    # two selects executed the entire upstream pair-generation
    # pipeline twice (AQE does not reuse exchanges across plan
    # branches; measured 2x the LSH candidate cost on the bench's
    # minhash composition). explode duplicates each row JVM-side.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("a"), F.col(id_b).alias("b")
                    ),
                    F.struct(
                        F.col(id_b).alias("a"), F.col(id_a).alias("b")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    if algorithm == "star":
        edges = edges.localCheckpoint()
        if (
            driver_threshold is not None
            and edges.count() <= driver_threshold
        ):
            # the broadcast-able regime: a small candidate graph is
            # union-find work, not a multi-job iteration — collect
            # once (bounded by the threshold), solve exactly, ship
            # the labels back. The distributed star loop below is
            # the path that survives graphs too big to collect.
            return _cc_driver(edges)
        labels, _ = _cc_star(edges, max_iter)
        return labels
    if algorithm != "propagate":
        raise ValueError(f"unknown algorithm: {algorithm}")
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr = edges.join(
            labels.withColumnRenamed("id", "b"), "b"
        ).select(F.col("a").alias("id"), "label")
        new = (
            labels.union(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new.withColumnRenamed("label", "_new")
            .join(labels, "id")
            .filter(F.col("_new") != F.col("label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _cc_driver(edges: DataFrame) -> DataFrame:
    """Exact union-find over a collected (bounded) edge list."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    rows = edges.collect()
    for r in rows:
        a, b = r["a"], r["b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so cluster_id semantics match the
            # distributed algorithms exactly
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    labels = [(x, find(x)) for x in parent]
    return edges.sparkSession.createDataFrame(
        labels, "doc_id long, cluster_id long"
    )


def _cc_star(edges: DataFrame, max_iter: int):
    """Alternating large-star/small-star rounds until the edge set is
    stable; returns (labels DataFrame, rounds used). On convergence
    every edge points (node → component-min), i.e. the components are
    stars around their minimum id."""

    def large_star(e: DataFrame) -> DataFrame:
        # e is always a materialized checkpoint here, so the two sym
        # references only re-read it; explode still halves the reads
        sym = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("_e")
        ).select("_e.a", "_e.b")
        m = sym.groupBy("a").agg(F.min("b").alias("_mn"))
        m = m.select("a", F.least("a", "_mn").alias("_m"))
        return (
            sym.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("_m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        o = e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        m = o.groupBy("a").agg(F.min("b").alias("_m"))
        j = o.join(m, "a")
        # one reference to the join (the union of two j-selects ran
        # the whole join — and its uncheckpointed upstream — twice)
        out = j.select(
            F.explode(
                F.array(
                    F.struct(F.col("b").alias("a"), F.col("_m").alias("b")),
                    F.struct(F.col("a"), F.col("_m").alias("b")),
                )
            ).alias("_e")
        ).select("_e.a", "_e.b")
        return out.filter(F.col("a") != F.col("b")).distinct()

    def sig(e: DataFrame):
        r = e.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent and overflow-free under ANSI
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).first()
        return r["n"], r["h"]

    cur = edges
    cur_sig = sig(cur)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # eager checkpoints (the lazy form is exposed to the ABBA
        # deadlock recorded in plans/r15/localcheckpoint_deadlock_jstack.txt).
        # The intermediate large-star frame is checkpointed too —
        # small_star references its input twice (min-map build +
        # join), which re-ran the whole large-star shuffle per
        # reference before r15.
        cur = small_star(
            large_star(cur).localCheckpoint()
        ).localCheckpoint()
        new_sig = sig(cur)
        if new_sig == cur_sig:
            break
        cur_sig = new_sig
    roots = cur.select(F.col("b").alias("doc_id"), F.col("b").alias("cluster_id"))
    members = cur.select(F.col("a").alias("doc_id"), F.col("b").alias("cluster_id"))
    return members.union(roots).distinct(), rounds


def substring_dup_pairs(
    df: DataFrame,
    window_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_window_df: int | None = 50,
) -> DataFrame:
    """Exact substring-duplication candidates ("Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2022 shape): two
    documents are flagged when they share ANY exact run of
    ``window_tokens`` consecutive tokens, with the number of shared
    distinct windows as the evidence weight.

    The production-safe decomposition of suffix-style dedup: every
    doc explodes into hashes of its sliding k-token windows, and pairs
    form only inside a window-hash bucket — at k=20 a shared window is
    essentially proof of copied text, so fan-out is bounded by true
    duplication, never all-pairs.

    True duplication is itself the scale hazard: K documents sharing
    one 20-token boilerplate run (license header, disclaimer) would
    put K rows on a single hash and emit K(K-1)/2 pairs from it.
    ``max_window_df`` drops window hashes whose DOCUMENT FREQUENCY
    exceeds the cap before any pair forms — Lee et al. likewise
    discard their highest-frequency duplicate runs as boilerplate.
    The df count is a window over the SAME hash-partitioned shuffle
    the pairing groupBy needs, so the cap costs zero extra exchanges
    (plan-asserted); a hot hash streams through the window's
    spill-capable sorter instead of materializing as one giant
    collect_set row. Every surviving bucket is ≤ cap, bounding both
    the collect_set row and the per-bucket pair fan-out. Output:
    (id_a, id_b, n_shared_windows), id_a < id_b."""
    win = F.expr(
        f"transform(sequence(0, size(_toks)-{window_tokens}), "
        f"i -> xxhash64(concat_ws(' ', slice(_toks, i+1, {window_tokens}))))"
    )
    w = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= window_tokens)
        .select(F.col(id_col), F.explode(F.array_distinct(win)).alias("wh"))
    )
    if max_window_df is not None:
        w = (
            w.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("wh"))
            )
            .filter(F.col("_df") <= max_window_df)
            .drop("_df")
        )
    grouped = w.groupBy("wh").agg(
        F.array_sort(F.collect_set(id_col)).alias("_ids")
    )
    pairs = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.filter(F.size("_ids") >= 2)
        .select(F.explode(pairs).alias("_p"))
        .groupBy(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )


def dup_span_fraction(
    df: DataFrame,
    window_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span exposure: the fraction of a
    document's distinct ``window_tokens``-token runs that also occur
    in at least one OTHER document — Lee et al. 2022's removal-pass
    statistic (their dedup cuts exactly these spans; this annotates
    how much of each doc would be cut), and the per-doc complement
    of ``substring_dup_pairs``' pair report.

    Scale shape: no pair fan-out exists anywhere — the cross-doc
    evidence is a document-frequency COUNT WINDOW riding the same
    wh-partitioned shuffle ``substring_dup_pairs``' boilerplate cap
    uses (one exchange for the df evidence, one for the per-doc
    aggregate — the join-back formulation costs a third exchange and
    measured ~2x slower at sf0.1). Boilerplate needs no cap here: a
    hash shared by K docs costs K rows, not K²/2. Output: (doc_id,
    n_windows, n_dup_windows, dup_frac) for every doc with >=
    window_tokens tokens."""
    win = F.expr(
        f"transform(sequence(0, size(_toks)-{window_tokens}), "
        f"i -> xxhash64(concat_ws(' ', slice(_toks, i+1, {window_tokens}))))"
    )
    w = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= window_tokens)
        .select(F.col(id_col), F.explode(F.array_distinct(win)).alias("wh"))
    )
    flagged = w.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("wh"))
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum((F.col("_df") >= 2).cast("long")).alias("n_dup_windows"),
        )
        .select(
            id_col,
            "n_windows",
            "n_dup_windows",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6).alias(
                "dup_frac"
            ),
        )
    )


def containment_pairs(
    df: DataFrame,
    n: int = 5,
    threshold: float = 0.8,
    max_shingle_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b, shared, containment) — asymmetric near-dup
    detection: containment = |S_A ∩ S_B| / min(|S_A|, |S_B|) over
    distinct word n-gram shingle sets. Catches the pair Jaccard
    misses by construction: a short document pasted inside a much
    longer one has tiny Jaccard (union is huge) but containment ~1.
    Broder's resemblance-vs-containment distinction (1997) — MinHash
    sketches estimate the former and structurally CANNOT rank the
    latter, so this is computed on exact shingle sets with the
    boilerplate guard making it corpus-safe.

    Scale shape mirrors substring_dup_pairs: per-doc DISTINCT
    shingles (array_distinct before the explode — map-side
    reduction), shingles with document frequency > ``max_shingle_df``
    dropped before any pair forms (an n-gram shared by >cap docs is
    boilerplate, not evidence), pairs generated from ONE groupBy on
    the shingle via collect_set (bounded ≤ cap per bucket). The
    intersection count is therefore over capped-df shingles on BOTH
    sides — documented estimator semantics, mirrored exactly by the
    SQL oracle. Set sizes join back on the per-doc frame — measured
    as the RIGHT shape (r15): carrying (id, size) structs through the
    bucket collect_set instead was 3x slower end-to-end at sf0.1
    (8.4s vs 2.7s medians), because the struct allocation and struct
    array_sort are paid once per GRAM INSTANCE while the join-back
    touches only the result-sized pair frame.

    Documents shorter than ``n`` tokens are excluded (no full
    shingle)."""
    base = df.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("_toks"),
    ).filter(F.size("_toks") >= n)
    # _sh feeds both the size projection and the pair explode —
    # materialize once (the tfidf_top_terms/materialize_input rule)
    sh = base.select(
        F.col(id_col),
        F.array_distinct(
            shingles_from_tokens(F.col("_toks"), n)
        ).alias("_sh"),
    ).localCheckpoint()
    sizes = sh.select(F.col(id_col), F.size("_sh").alias("_sz"))
    exploded = sh.select(F.col(id_col), F.explode("_sh").alias("_g"))
    grouped = (
        exploded.groupBy("_g")
        .agg(F.array_sort(F.collect_set(id_col)).alias("_ids"))
        .filter(
            (F.size("_ids") >= 2) & (F.size("_ids") <= max_shingle_df)
        )
    )
    shared = (
        grouped.select(F.explode(_pairs_expr(F.col("_ids"))).alias("_p"))
        .groupBy(
            F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    sz_a = sizes.select(
        F.col(id_col).alias("id_a"), F.col("_sz").alias("_sz_a")
    )
    sz_b = sizes.select(
        F.col(id_col).alias("id_b"), F.col("_sz").alias("_sz_b")
    )
    cont = F.col("shared") / F.least(F.col("_sz_a"), F.col("_sz_b"))
    return (
        shared.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .filter(cont >= threshold)
        .select(
            "id_a",
            "id_b",
            "shared",
            F.round(cont, 6).alias("containment"),
        )
    )


def dedup_keep_best(
    scored: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster-atomic near-dup resolution keeping the HIGHEST-QUALITY
    representative per duplicate family (ties on the lower id) — the
    production alternative to the min-id keeper: when a template
    family mixes a clean original with mangled copies, min-id keeps
    whichever crawled first; this keeps the best one.

    ``scored`` is (id, ..., score) — e.g. textstats.quality_score;
    ``pairs`` the candidate pair set (exact-Jaccard or LSH). Output
    is one row per scored doc: (id, cluster_id, score, keep).
    Singletons (docs in no pair) are their own cluster and kept.

    Scale shape: components come from dup_clusters (O(log n) star
    rounds / driver union-find short-circuit); the keeper choice is
    ONE window over (cluster) — the shuffle carries (id, cluster,
    score) triples only, never text. The scored frame joins the
    (small) cluster labels with a broadcast-friendly left join."""
    clusters = dup_clusters(pairs, id_a=id_a, id_b=id_b)
    joined = scored.join(
        clusters.withColumnRenamed("doc_id", id_col), id_col, "left"
    ).withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return joined.withColumn("_rn", F.row_number().over(w)).select(
        F.col(id_col),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col(score_col),
        (F.col("_rn") == 1).alias("keep"),
    )


def remove_dup_spans(
    df: DataFrame,
    window_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The Lee et al. 2022 removal pass itself: REWRITE every
    document with its cross-document duplicated spans cut out. A
    token is removed when ANY ``window_tokens``-run containing it
    also occurs in at least one other document — `dup_span_fraction`
    annotates how much this pass would cut; this executes the cut.

    Scale shape (all declarative, no UDFs):
      1. positional windows (doc, start, hash) — the same sliding
         xxhash64 runs every span operator uses, positions kept;
      2. cross-doc evidence = distinct (doc, hash) -> hash df >= 2
         (one aggregate; the dup-hash frame is small — it holds only
         duplicated content — and AQE broadcasts the pair join);
      3. covered positions = flagged starts exploded to their
         ``window_tokens`` token indexes (fan-out bounded by the
         duplicated volume being removed, never by corpus size);
      4. kept text = token positions LEFT ANTI covered, re-assembled
         per doc with one sort_array(collect_list) aggregate.
    Output: (doc_id, n_tokens, n_removed, kept_md5) where kept_md5
    is the portable md5 of the space-joined surviving tokens — the
    rewrite is value-checkable without shipping full text."""
    k = window_tokens
    toked = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).localCheckpoint()
    win = F.expr(
        f"transform(sequence(1, size(_toks)-{k}+1), "
        f"s -> struct(s as s, "
        f"xxhash64(concat_ws(' ', slice(_toks, s, {k}))) as wh))"
    )
    pos_wins = (
        toked.filter(F.size("_toks") >= k)
        .select(F.col(id_col), F.explode(win).alias("_w"))
        .select(F.col(id_col), F.col("_w.s").alias("s"),
                F.col("_w.wh").alias("wh"))
    ).localCheckpoint()
    dup_wh = (
        pos_wins.select(id_col, "wh").distinct()
        .groupBy("wh").agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= 2)
        .select("wh")
    )
    covered = (
        pos_wins.join(dup_wh, "wh")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("s"), F.col("s") + F.lit(k - 1))
            ).alias("p"),
        )
        .distinct()
    )
    tok_pos = toked.select(
        F.col(id_col),
        F.posexplode("_toks").alias("p0", "tok"),
    ).select(F.col(id_col), (F.col("p0") + 1).alias("p"), "tok")
    kept = tok_pos.join(covered, [id_col, "p"], "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("p", "tok"))
            ).alias("_kept"),
        )
        .join(
            toked.select(
                F.col(id_col), F.size("_toks").alias("n_tokens")
            ),
            id_col,
            "right",
        )
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (
                F.col("n_tokens")
                - F.coalesce(F.size("_kept"), F.lit(0)).cast("long")
            ).alias("n_removed"),
            F.md5(
                F.concat_ws(
                    " ", F.transform(F.coalesce("_kept", F.array()),
                                     lambda st: st["tok"])
                )
            ).alias("kept_md5"),
        )
    )


def nearest_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-document nearest-duplicate report: each document's best
    exact-token-Jaccard match among its MinHash/LSH CANDIDATES — the
    per-doc diagnostic a dedup audit reads ("what is this doc's
    closest neighbor and how close is it"). Candidate-bounded: exact
    Jaccard is computed ONLY for LSH candidate pairs, never all
    pairs. Pass ``pairs`` to reuse an ingest-time candidate set.

    The ranking key is jac_ppm = (inter * 1_000_000) div union —
    integer floor division, so ordering and values are engine-exact
    (no float rounding at tie boundaries). Output: one row per doc
    that HAS a candidate: (doc_id, nn_id, inter, union_, jac_ppm)."""
    if pairs is None:
        pairs = minhash_candidates(df, text_col=text_col, id_col=id_col)
    # the symmetrizing union references the pair pipeline twice —
    # materialize it once (the repo's shared-subtree rule; without
    # this the candidate generation runs twice, plan-verified)
    pairs = pairs.localCheckpoint()
    toksets = df.select(
        F.col(id_col).alias("_tid"),
        F.array_distinct(tokens(F.col(text_col))).alias("_ts"),
    ).localCheckpoint()
    sym = pairs.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).union(
        pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    )
    scored = (
        sym.join(toksets.withColumnRenamed("_tid", "a"), "a")
        .withColumnRenamed("_ts", "_ta")
        .join(
            toksets.select(
                F.col("_tid").alias("b"), F.col("_ts").alias("_tb")
            ),
            "b",
        )
        .select(
            "a",
            "b",
            F.size(F.array_intersect("_ta", "_tb")).alias("inter"),
            F.size(F.array_union("_ta", "_tb")).alias("union_"),
        )
        .withColumn(
            "jac_ppm",
            F.expr("(CAST(inter AS BIGINT) * 1000000) div union_"),
        )
    )
    w = Window.partitionBy("a").orderBy(
        F.desc("jac_ppm"), F.asc("b")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("a").alias(id_col),
            F.col("b").alias("nn_id"),
            F.col("inter").cast("long").alias("inter"),
            F.col("union_").cast("long").alias("union_"),
            F.col("jac_ppm").cast("long").alias("jac_ppm"),
        )
    )


def cross_source_dups(
    df: DataFrame,
    pairs: DataFrame | None = None,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Provenance-level duplication matrix: how many candidate
    duplicate PAIRS link each (source, source) combination — the
    report that tells a corpus curator which feeds copy from which
    (and how much of the duplication is intra-feed). Pass ``pairs``
    to reuse an ingest-time candidate set; defaults to the capped
    substring-dup candidates.

    Scale shape: the pair frame joins the tiny (id, source) dim twice
    (AQE broadcasts it); the aggregate key space is bounded by the
    CATALOG's source count squared, independent of corpus size.
    Output: (source_a, source_b, n_pairs) with source_a <= source_b."""
    if pairs is None:
        pairs = substring_dup_pairs(df, text_col=text_col, id_col=id_col)
    src = df.select(F.col(id_col), F.col(source_col))
    labeled = (
        pairs.join(
            src.select(
                F.col(id_col).alias("id_a"),
                F.col(source_col).alias("_sa"),
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col(id_col).alias("id_b"),
                F.col(source_col).alias("_sb"),
            ),
            "id_b",
        )
    )
    return (
        labeled.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def dup_pagerank(
    df: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents by PageRank centrality over the
    substring-duplication candidate graph — the canonical-document
    picker: inside a duplication neighborhood, the doc every copy
    points at (highest centrality) is the one to KEEP when
    `dedup_keep_best`'s quality scores tie, and the ranking doubles
    as a boilerplate-hub report (license headers and templates
    surface as the highest-centrality nodes).

    Shape: the capped pair frame (substring_dup_pairs — fan-out
    bounded by true duplication) symmetrizes into an edge list,
    materialized ONCE; each of the ``iters`` power iterations is one
    join-aggregate on the edge list with the previous vector
    localCheckpointed (plan depth stays O(1) per iteration, the
    dup_clusters loop posture). Node count is collected as ONE
    driver scalar (it parameterizes the teleport term). Every node
    of the symmetric graph has degree >= 1, so there is no dangling
    mass. Scores surface ROUNDED to 6 (cross-engine group-sum
    order), ranked (pr DESC, id ASC) via sort+limit."""
    pairs = (
        substring_dup_pairs(df, text_col=text_col, id_col=id_col)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(
            pairs.select(
                F.col("id_b").alias("src"), F.col("id_a").alias("dst")
            )
        )
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    deg = deg.localCheckpoint()
    n_nodes = deg.count()
    if n_nodes == 0:
        return df.sparkSession.createDataFrame(
            [], "doc_id long, pr double, rank long"
        )
    r = deg.select(
        F.col("src").alias(id_col), F.lit(1.0 / n_nodes).alias("pr")
    )
    teleport = (1.0 - damping) / n_nodes
    for _ in range(iters):
        r = (
            edges.join(deg, "src")
            .join(r, edges["src"] == r[id_col])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("_deg")).alias("_s"))
            .select(
                F.col("dst").alias(id_col),
                (F.lit(teleport) + F.lit(damping) * F.col("_s")).alias("pr"),
            )
            .localCheckpoint()
        )
    scored = r.select(
        id_col, F.round("pr", 6).alias("pr")
    )
    order = (F.desc("pr"), F.asc(id_col))
    top = scored.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def dup_cosine_check(
    pairs: DataFrame,
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cross-modal duplicate QA: join a candidate pair frame (text
    evidence — substring/minhash) to the embedding table and flag
    pairs whose vectors DISAGREE (cosine below ``threshold``). Text
    says copy, embedding says different -> a corrupted vector row, a
    stale embedding build, or template text with divergent payload —
    the rows a dedup pipeline should NOT silently collapse.

    Output: (id_a, id_b, cos_sim ROUND 4, disagree). Scale shape: the
    pair frame is duplication-bounded (small); two hash joins against
    the vector table touch only the paired ids, and the cosine is the
    one JVM fold per pair (functions.vector.cosine)."""
    from openset_spark.functions.vector import cosine

    va = vectors.select(
        F.col(vec_id_col).alias("id_a"),
        F.col(vec_col).cast("array<double>").alias("_va"),
    )
    vb = vectors.select(
        F.col(vec_id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("_vb"),
    )
    out = (
        pairs.select("id_a", "id_b")
        .join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine(F.col("_va"), F.col("_vb")).alias("_cos"),
        )
    )
    return out.select(
        "id_a",
        "id_b",
        F.round("_cos", 4).alias("cos_sim"),
        (F.col("_cos") < F.lit(threshold)).alias("disagree"),
    )


def line_frequencies(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    separator: str = "\n",
) -> DataFrame:
    """(line_hash, n_docs) document frequency of every distinct
    NORMALIZED line — the CCNet line-dedup statistic. A line counts
    once per document (repeats inside one doc don't inflate it).
    One explode + one distinct-by-(doc,hash) + one count aggregate;
    the frame is bounded by distinct lines, never corpus bytes."""
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), separator)).alias("_line"),
    ).select(
        F.col(id_col), F.md5(normalize(F.col("_line"))).alias("line_hash")
    )
    return (
        lines.distinct()
        .groupBy("line_hash")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def dedup_lines(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    separator: str = "\n",
    frequencies: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style LINE-level dedup: rewrite each document with every
    line removed whose normalized form appears in >= ``min_docs``
    distinct documents (headers, footers, nav bars, cookie banners —
    the boilerplate mass a web corpus loses to this exact pass;
    CCNet, Wenzek et al. 2020, drops ~70% of raw Common Crawl lines
    this way). Document-internal repeats survive: the threshold is
    DOCUMENT frequency, not occurrence count.

    Output: (id, text, n_lines, n_removed) with ``text`` the
    surviving lines joined by ``separator`` in original order; lines
    that normalize to EMPTY are never dropped (every page has blank
    lines — removing them is whitespace policy, not dedup).

    ``frequencies`` accepts a precomputed :func:`line_frequencies`
    frame (the 100 TB shape: the frequency table is built once per
    corpus snapshot, broadcast if it fits, and reused by every
    rewrite pass — exactly like the dup_clusters comps= reuse).

    Scale shape: posexplode keeps (doc, position) so reassembly is an
    array_sort over each doc's own lines (no window); the frequency
    join is hash-keyed on the line hash; nothing ever holds more
    than one document's lines in a row."""
    freq = (
        frequencies
        if frequencies is not None
        else line_frequencies(df, text_col, id_col, separator)
    )
    pos_lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), separator)).alias(
            "_pos", "_line"
        ),
    ).withColumn("line_hash", F.md5(normalize(F.col("_line"))))
    flagged = pos_lines.join(
        freq.filter(F.col("n_docs") >= min_docs).withColumn(
            "_dup", F.lit(True)
        ),
        "line_hash",
        "left",
    ).withColumn(
        "_drop",
        F.col("_dup").isNotNull() & (F.length(normalize(F.col("_line"))) > 0),
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(IF(_drop, NULL,"
                " struct(_pos, _line)))), s -> s._line)"
            ),
            separator,
        ).alias(text_col),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("_drop").cast("long")).alias("n_removed"),
    )


def edit1_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    max_len: int = 64,
) -> DataFrame:
    """(id_a, id_b, dist) pairs whose ``key_col`` strings are within
    edit distance 1 (Levenshtein) — fuzzy record linkage for short
    keys (titles, product names, normalized URLs) WITHOUT an
    all-pairs join.

    Exact candidate scheme — deletion neighborhoods: each string
    emits itself plus every single-character-deletion variant. Two
    strings within edit distance 1 ALWAYS share a variant
    (substitution at i: both drop position i; insert/delete: the
    shorter string IS a variant of the longer; equality: the string
    itself), and sharing a variant bounds the distance by 2, so the
    exact ``levenshtein`` re-rank keeps precision at 100%. Fan-out is
    len+1 variants per row — which is why this is a SHORT-KEY
    operator (``max_len`` guards; dedup long texts with
    minhash/simhash instead). One groupBy on the variant, pairs from
    sorted id arrays (the _bucket_pairs shape), distinct because a
    pair can share several variants."""
    variants = _edit1_variants(df, key_col, id_col, max_len)
    keyed = df.select(
        F.col(id_col), F.substring(F.col(key_col), 1, max_len).alias("_k")
    ).filter(F.col("_k").isNotNull() & (F.length("_k") > 0))
    cands = _bucket_pairs(variants, ["_v"], id_col)
    a = keyed.select(F.col(id_col).alias("id_a"), F.col("_k").alias("_ka"))
    b = keyed.select(F.col(id_col).alias("id_b"), F.col("_k").alias("_kb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_ka", "_kb").cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= 1)
    )


def _edit1_variants(df: DataFrame, key_col: str, id_col: str, max_len: int = 64):
    keyed = df.select(
        F.col(id_col), F.substring(F.col(key_col), 1, max_len).alias("_k")
    ).filter(F.col("_k").isNotNull() & (F.length("_k") > 0))
    return keyed.select(
        id_col,
        "_k",
        F.explode(
            F.array_union(
                F.array(F.col("_k")),
                F.expr(
                    "transform(sequence(1, length(_k)), i -> "
                    "concat(substring(_k, 1, i - 1), substring(_k, i + 1)))"
                ),
            )
        ).alias("_v"),
    )


def edit1_against(
    docs: DataFrame,
    corpus: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    corpus_id_col: str = "doc_id",
    max_len: int = 64,
) -> DataFrame:
    """(id, corpus_id, dist) pairs where an incoming doc's key is
    within edit distance 1 of an EXISTING corpus key — the
    ingest-time typo screen (near_dup_against's exact-short-key
    sibling). Same deletion-neighborhood scheme as
    :func:`edit1_pairs`, but the corpus side is a prebuilt (variant,
    key, id) index the arrivals hash-join — every stage is a pure
    per-row projection + one equijoin, so the identical plan runs
    over a STREAMING doc side unchanged (the 27th parity surface:
    stream-static join; the only state is the trailing distinct's
    matched-pair set — bounded by the SCREEN HITS, not the corpus,
    and hits are what a typo screen exists to keep rare)."""
    dv = _edit1_variants(docs, key_col, id_col, max_len).withColumnRenamed(
        id_col, "_did"
    )
    cv = (
        _edit1_variants(corpus, key_col, corpus_id_col, max_len)
        .withColumnRenamed(corpus_id_col, "_cid")
        .withColumnRenamed("_k", "_ck")
        .select("_cid", "_ck", "_v")
    )
    return (
        dv.join(cv, "_v")
        .filter(F.levenshtein(F.col("_k"), F.col("_ck")) <= 1)
        .select(
            F.col("_did").alias(id_col),
            F.col("_cid").alias("corpus_id"),
            F.levenshtein(F.col("_k"), F.col("_ck"))
            .cast("int")
            .alias("dist"),
        )
        .distinct()
    )
