"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first — at 100 TB you run them in this order and
each tier prunes the next one's input:

1. exact       — sha256 hash-groupBy (one shuffle of 32-byte keys)
2. MinHash+LSH — shingle -> minhash signature -> band buckets ->
                 candidate pairs via bucket join (never all-pairs)
3. SimHash     — 60-bit weighted fingerprint; near-dups differ in few bits
4. n-gram Jaccard — exact verify step for the candidates LSH surfaced

The exact tier is the scalable form of the reference's unique-hash upload
check (reference app/controllers/document.py:147-156 and the unique
indexed hash column, app/db/models.py:78), with sha2(content,256) per the
input_hint invariant.

Hashes are md5-based and engine-portable (see functions/hashing.py), so
every operator here is DuckDB-oracle-checkable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tfidf_spark.functions.tokenize import shingles_udf


def exact_duplicates(
    docs: DataFrame, text_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """(id, content_sha256, keeper_id): keeper = min id per identical hash.
    Rows with id != keeper_id are droppable duplicates."""
    h = docs.select(
        F.col(id_col).alias("doc_id"), F.sha2(text_col, 256).alias("content_sha256")
    )
    w = Window.partitionBy("content_sha256")
    return h.withColumn("keeper_id", F.min("doc_id").over(w))


def doc_shingles(
    docs: DataFrame, n: int = 3, text_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, s): DISTINCT word n-gram shingles, deduped in the kernel."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_udf(n)(F.col(text_col))).alias("s"),
    )


def minhash_signatures_docs(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "content",
    id_col: str = "doc_id",
    n_seeds: int = 8,
    code_aware: bool = False,
) -> DataFrame:
    """(doc_id, seed, minhash): hash-once xor-permuted MinHash (bigint)
    straight from the documents in ONE narrow kernel — tokenize,
    shingle, md5, xor-min all per batch, zero shuffle, and the shingle
    strings never cross the Python->JVM boundary. Each distinct word
    n-gram shingle is hashed ONCE, ``h = int(md5(s)[:15 hex], 16)``;
    seed ``s``'s component is ``min(h XOR seed_xor_constant(s))`` over
    the doc's shingles (functions/hashing.py) — the same values as the
    DuckDB oracle over the exploded shingle rows, and pinned against a
    pure-Python recomputation in test_dedup. Docs with < n tokens emit
    no rows."""
    import hashlib

    from tfidf_spark.functions.hashing import seed_xor_constant
    from tfidf_spark.functions.tokenize import _tokenize_series

    ks = np.array([seed_xor_constant(s) for s in range(n_seeds)], dtype=np.int64)
    sel = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            toks = _tokenize_series(pdf["_t"], code_aware)
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            sh_lists = [
                list(dict.fromkeys(
                    " ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)
                ))
                if len(ts) >= n
                else []
                for ts in toks
            ]
            lens = np.array([len(s) for s in sh_lists], dtype=np.int64)
            keep = np.flatnonzero(lens)
            if not keep.size:
                continue
            hs = np.fromiter(
                (
                    int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                    for i in keep
                    for s in sh_lists[i]
                ),
                dtype=np.int64,
                count=int(lens[keep].sum()),
            )
            starts = np.zeros(keep.size, dtype=np.int64)
            np.cumsum(lens[keep][:-1], out=starts[1:])
            # (seeds x shingles) xor, per-doc segment minima
            mins = np.empty((n_seeds, keep.size), dtype=np.int64)
            for s in range(n_seeds):
                mins[s] = np.minimum.reduceat(hs ^ ks[s], starts)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(doc_ids[keep], n_seeds),
                    "seed": np.tile(
                        np.arange(n_seeds, dtype=np.int32), keep.size
                    ),
                    "minhash": mins.T.ravel(),
                }
            )

    return sel.mapInPandas(kernel, "doc_id long, seed int, minhash long")


def lsh_candidate_pairs(
    signatures: DataFrame, band_size: int = 1, max_bucket: int | None = None
) -> DataFrame:
    """(a, b, n_bands): pairs colliding in >= 1 band. The join is on
    (band, bucket-key) — work is proportional to collisions, never to
    n^2. band_size=1 maximizes recall; raise it to tighten precision.

    ``max_bucket`` is the skew guard for 100 TB corpora: one degenerate
    bucket (empty files, license boilerplate) makes pair generation
    quadratic IN THAT BUCKET. Buckets with more than ``max_bucket``
    members are dropped whole — by definition they hold near-identical
    boilerplate a dedup pipeline handles via exact dedup first; use
    ``lsh_bucket_stats`` to see what was skipped.

    Shape (r8): ONE groupBy(band, bucket) collects each bucket's member
    ids sorted, then a JVM higher-order expression emits the a<b pairs
    per bucket, and a final groupBy(a, b) counts colliding bands. The r7
    self-join recomputed the signature subtree — shingle UDF included —
    on BOTH sides (two ArrowEvalPython nodes, r8 plan audit) and needed
    a bucket-size window on top; this is one signature pass, two
    shuffles, no window. The cap bounds per-bucket work at
    max_bucket^2/2 pairs exactly as before; a degenerate bucket's
    member array is collected before being dropped (fine up to ~10^8
    members — beyond that, pre-drop hot buckets via ``lsh_bucket_stats``
    + an anti-join before calling this)."""
    banded = signatures.withColumn("band", (F.col("seed") / band_size).cast("int"))
    if band_size > 1:
        # sort by seed before concat: collect_list order is nondeterministic
        # under parallel merge, and an unordered band key silently drops
        # true collisions.
        keys = banded.groupBy("doc_id", "band").agg(
            F.concat_ws(
                "|",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seed", "minhash"))),
                    lambda s: s["minhash"],
                ),
            ).alias("bucket")
        )
    else:
        keys = banded.select("doc_id", "band", F.col("minhash").alias("bucket"))
    grouped = keys.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    cap = F.lit(max_bucket) if max_bucket is not None else F.size("ids")
    grouped = grouped.filter(
        (F.size("ids") >= 2) & (F.size("ids") <= cap)
    )
    # all a<b pairs of the sorted member array: for each position i, pair
    # ids[i] with every later element (slice is 1-indexed)
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ids"), i + F.lit(2), F.size("ids") - i - 1
                        ),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bands"))
    )


def lsh_bucket_stats(
    signatures: DataFrame, band_size: int = 1, min_size: int = 2
) -> DataFrame:
    """(band, bucket, size): bucket-occupancy diagnostics — run before a
    big LSH job to pick ``max_bucket`` and audit what a cap would drop."""
    banded = signatures.withColumn("band", (F.col("seed") / band_size).cast("int"))
    keys = (
        banded.select("doc_id", "band", F.col("minhash").alias("bucket"))
        if band_size == 1
        else banded.groupBy("doc_id", "band").agg(
            F.concat_ws(
                "|",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seed", "minhash"))),
                    lambda s: s["minhash"],
                ),
            ).alias("bucket")
        )
    )
    return (
        keys.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .filter(F.col("size") >= min_size)
    )


def jaccard_pairs(
    shingles: DataFrame, min_jaccard: float = 0.0, top: int | None = None
) -> DataFrame:
    """(a, b, jac_r): exact n-gram Jaccard via the shingle inverted index.
    Use as the verify step on LSH candidates; standalone it is quadratic
    in co-shingled docs."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = shingles.alias("a"), shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "na"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "nb"), "b")
        .select(
            "a", "b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jac_r"),
        )
        .filter(F.col("jac_r") >= min_jaccard)
    )
    if top:
        jac = jac.orderBy(F.desc("jac_r"), F.asc("a"), F.asc("b")).limit(top)
    return jac


def simhash_docs(
    docs: DataFrame,
    text_col: str = "content",
    id_col: str = "doc_id",
    bits: int = 60,
    code_aware: bool = False,
) -> DataFrame:
    """(doc_id, simhash) straight from the documents — ZERO shuffle.

    Count-weighted SimHash over md5 term hashes: bit ``i`` is set when
    the doc's term counts, each signed by bit ``i`` of its term's hash,
    sum above zero. A document's SimHash depends only on its own
    (term, cnt) pairs, so tokenize + count + md5 + bit-sum all run in
    ONE narrow Arrow kernel per doc batch — no repartition of exploded
    posting rows to re-group what the tokenizer already had grouped.
    The bit sums are vectorized in numpy (a bit matrix + reduceat); the
    rejected shapes were a 60x bit-row explode, which shuffles 60x the
    posting table, and a groupBy with 60 conditional sums, ~2x slower
    and CPU-bound. md5 semantics match the DuckDB oracle exactly:
    ``int(md5(term)[:15 hex], 16)`` — 60 bits, positive, exact integer
    math throughout (pinned against a pure-Python SimHash in
    test_dedup). Zero-token docs emit no row."""
    import hashlib

    from tfidf_spark.functions.tokenize import _tokenize_series

    sel = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))

    def kernel(batches):
        from collections import Counter

        import numpy as np
        import pandas as pd

        out_shifts = np.arange(bits, dtype=np.int64)
        md5_cache: dict[str, int] = {}
        # group-aligned slice size: caps the (rows x bits) working set at
        # a few MB so the kernel stays cache-resident instead of streaming
        # ~100 MB of int64 temporaries per 100k-row Arrow batch (measured
        # 2-3x slower under host memory-bandwidth contention)
        slice_rows = 16384

        for pdf in batches:
            if not len(pdf):
                continue
            toks = _tokenize_series(pdf["_t"], code_aware)
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            counters = [Counter(ts) for ts in toks]
            lens = np.array([len(c) for c in counters], dtype=np.int64)
            keep = np.flatnonzero(lens)  # zero-token docs emit no row
            if not keep.size:
                continue
            terms_flat = np.array(
                [t for i in keep for t in counters[i]], dtype=object
            )
            cnts = np.fromiter(
                (v for i in keep for v in counters[i].values()),
                dtype=np.int32,
                count=int(lens[keep].sum()),
            )
            codes, uniques = pd.factorize(terms_flat, sort=False)
            uh = np.empty(len(uniques), dtype=np.int64)
            for j, u in enumerate(uniques):
                v = md5_cache.get(u)
                if v is None:
                    v = int(hashlib.md5(u.encode()).hexdigest()[:15], 16)
                    md5_cache[u] = v
                uh[j] = v
            hs = uh[codes]
            starts = np.zeros(keep.size, dtype=np.int64)
            np.cumsum(lens[keep][:-1], out=starts[1:])
            byte_view = hs.astype("<u8").view(np.uint8).reshape(-1, 8)
            sims = np.empty(keep.size, dtype=np.int64)
            g = 0
            while g < starts.size:
                g_end = int(
                    np.searchsorted(starts, starts[g] + slice_rows, side="left")
                )
                g_end = max(g + 1, min(g_end, starts.size))
                r0 = starts[g]
                r1 = starts[g_end] if g_end < starts.size else hs.size
                bitm = np.unpackbits(
                    byte_view[r0:r1], axis=1, bitorder="little"
                )[:, :bits].astype(np.int32)
                contrib = (2 * bitm - 1) * cnts[r0:r1, None]
                sums = np.add.reduceat(contrib, starts[g:g_end] - r0, axis=0)
                sims[g:g_end] = (
                    (sums > 0).astype(np.int64) << out_shifts
                ).sum(axis=1)
                g = g_end
            yield pd.DataFrame({"doc_id": doc_ids[keep], "simhash": sims})

    return sel.mapInPandas(kernel, "doc_id long, simhash long")


def simhash_near_pairs(
    sim: DataFrame, max_hamming: int = 3, bands: int | None = None, bits: int = 60
) -> DataFrame:
    """(a, b, hamming): near-dup pairs by SimHash. Band trick: split the
    ``bits`` into ``bands`` chunks covering every bit; a pair with
    hamming < bands MUST collide on >= 1 exact chunk (pigeonhole), so the
    join is bucketed — never a cross join. bands defaults to
    max_hamming + 1, the smallest value with guaranteed recall."""
    if bands is None:
        bands = max_hamming + 1
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) "
            "or recall is not guaranteed"
        )
    bands = min(bands, bits)
    # equal-as-possible chunk widths covering all `bits` (off_i = i*bits//bands)
    chunks = sim.select(
        "doc_id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        "chunk",
        # floor() explicitly: double->int CAST truncates in Spark but
        # ROUNDS in DuckDB — floor is the engine-portable spelling.
        F.expr(
            f"(simhash >> cast(floor(band * {bits} / {bands}) as int)) & "
            f"(shiftleft(cast(1 as bigint), "
            f"  cast(floor((band + 1) * {bits} / {bands}) as int)"
            f"  - cast(floor(band * {bits} / {bands}) as int)) - 1)"
        ),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a"),
            F.col("b.doc_id").alias("b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    return cand.select(
        "a", "b", F.bit_count(F.expr("sa ^ sb")).alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def connected_components_star(
    edges: DataFrame,
    max_iter: int = 64,
    a_col: str = "a",
    b_col: str = "b",
    stats: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, component_id) via alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the O(log n)-round escalation of
    ``connected_components`` for graphs whose DIAMETER breaks min-label
    propagation (crawl-duplicate ladders: a chain of near-identical pages
    where each LSH pair links only neighbors, diameter ~ corpus run
    length).

    One round is two edge rewrites, each a groupBy + join on the edge
    list:

    - large-star: per node u, every LARGER neighbor is re-pointed at
      m = min(N(u) ∪ {u}) — long tails collapse onto small labels;
    - small-star: orient edges larger→smaller, per node u re-point the
      smaller neighbors (and u) at the minimum neighbor — stars flatten.

    Both preserve connectivity exactly (each rewritten edge stays inside
    u's component, and every node keeps at least one edge toward a
    smaller component member until it points at the minimum), so the
    fixed point is a union of stars centered at each component's minimum
    id — the same labels min-label propagation produces, in
    O(log n) rounds instead of O(diameter).

    Convergence = the oriented edge set reaches a fixed point, checked
    EXACTLY with exceptAll on the checkpointed generations (cheap next to
    the two joins; no probabilistic hash-compare that could declare a
    wrong fixed point). ``stats["rounds"]`` reports the round count when
    a dict is passed (the O(log n) property test pins it). Like the
    label-propagation form, per-round localCheckpoint truncates lineage
    and superseded generations are unpersisted.

    ``checkpoint_dir``: when set, per-round generations use RELIABLE
    ``checkpoint`` into that directory instead of ``localCheckpoint`` —
    localCheckpoint blocks live only in executor storage, so on a real
    cluster a lost executor aborts a long CC job; a reliable checkpoint
    survives executor loss at the cost of a filesystem write per round.
    """
    ckpt = _make_checkpointer(edges, checkpoint_dir)
    sym = ckpt(
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .union(edges.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # every node that appears in the input keeps a label row even if the
    # star contraction makes it a center with no outgoing edge
    nodes = ckpt(sym.select(F.col("u").alias("doc_id")).distinct())

    # canonical orientation larger -> smaller; the fixed point is checked
    # on this form
    cur = ckpt(
        sym.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
    )
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # -- large-star: group the SYMMETRIC view by u, re-point larger
        # neighbors at min(N(u) ∪ {u})
        s = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = s.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("u", "mn").alias("m"))
        ls = (
            s.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: orient larger -> smaller, re-point smaller
        # neighbors and u itself at the minimum neighbor
        o = ls  # large-star output is already (larger, smaller)
        mn = o.groupBy("u").agg(F.min("v").alias("mn"))
        ss = ckpt(
            o.join(mn, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(mn.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        changed = (
            ss.exceptAll(cur).limit(1).count()
            + cur.exceptAll(ss).limit(1).count()
        )
        old = cur
        cur = ss
        old.unpersist()
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds; returning partial labels would silently split real "
            "clusters"
        )
    labels = nodes.join(
        cur.select(F.col("u").alias("doc_id"), F.col("v").alias("comp")),
        "doc_id",
        "left",
    ).select(
        "doc_id", F.coalesce("comp", "doc_id").alias("component_id")
    )
    sym.unpersist()
    return labels


def _make_checkpointer(edges: DataFrame, checkpoint_dir: str | None):
    """Per-generation lineage truncation: ``localCheckpoint`` (executor
    storage, fast, lost with an executor) by default, RELIABLE
    ``checkpoint`` into ``checkpoint_dir`` when given — the right mode
    for long CC runs on a real cluster where executor loss mid-job would
    otherwise abort the whole iteration history."""
    if checkpoint_dir is None:
        return lambda df: df.localCheckpoint(eager=True)
    edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return lambda df: df.checkpoint(eager=True)


def connected_components(
    edges: DataFrame,
    max_iter: int = 30,
    a_col: str = "a",
    b_col: str = "b",
    algorithm: str = "label",
    star_max_iter: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, component_id): transitive closure of the near-dup pair
    graph — component_id = the minimum doc_id reachable from each node.
    The step a dedup pipeline needs AFTER pair generation: LSH emits
    pairwise evidence (A~B, B~C) and the keeper decision must treat
    {A, B, C} as ONE group even though (A, C) never collided.

    Algorithm: min-label propagation. Every node starts labeled with its
    own id; each round replaces a node's label with the minimum over its
    neighbors' labels; converged when no label changes. Rounds needed =
    graph diameter — near-dup graphs are unions of small dense clusters,
    so a handful of rounds in practice (the iteration cap is a guard, and
    the loop exits early on convergence; a diameter-10^6 path graph would
    want the large-star/small-star variant [Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14], which squashes paths
    in O(log n) rounds at the cost of two joins per round).

    Each round is one shuffle join + one aggregation; ``localCheckpoint``
    truncates the lineage so the plan does not grow with iterations
    (mandatory for iterative DataFrame algorithms — round i's plan would
    otherwise embed rounds 0..i-1), and each superseded generation is
    unpersisted/dereferenced once the next one is materialized so the
    context cleaner can reclaim its blocks — executor storage stays
    ~O(2 label tables) instead of growing with round count.
    Convergence is detected from a flag column computed in the SAME
    label-update pass (no extra self-join per round), and hitting
    ``max_iter`` with labels still moving raises rather than silently
    returning a partial (wrong) clustering.

    Only nodes that appear in ``edges`` are labeled; singletons are their
    own component by definition and need no rows here.

    ``algorithm``: ``"label"`` (min-label propagation, O(diameter)
    rounds, one join per round — right for near-dup graphs of small
    dense clusters), ``"star"`` (delegate to
    ``connected_components_star``, O(log n) rounds, two joins per round —
    right for long-path graphs), or ``"auto"`` (label propagation first,
    escalating to star if the round cap is hit with labels still
    moving).

    ``checkpoint_dir``: when set, per-round lineage truncation uses
    reliable ``checkpoint`` into that directory (survives executor loss
    on a real cluster) instead of ``localCheckpoint``; forwarded to the
    star variant on escalation.
    """
    if algorithm not in ("label", "star", "auto"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # the star path honors the caller's round budget: star_max_iter if
    # given, else the star default — label's 30 would be wrong for an
    # O(log n) algorithm whose budget is a different unit (ADVICE r4 #4)
    star_iters = (
        star_max_iter
        if star_max_iter is not None
        else connected_components_star.__defaults__[0]
    )
    if algorithm == "star":
        return connected_components_star(
            edges,
            max_iter=star_iters,
            a_col=a_col,
            b_col=b_col,
            checkpoint_dir=checkpoint_dir,
        )
    if algorithm == "auto":
        try:
            return connected_components(
                edges,
                max_iter=max_iter,
                a_col=a_col,
                b_col=b_col,
                checkpoint_dir=checkpoint_dir,
            )
        except RuntimeError:
            return connected_components_star(
                edges,
                max_iter=star_iters,
                a_col=a_col,
                b_col=b_col,
                checkpoint_dir=checkpoint_dir,
            )
    # materialize the symmetric edge list ONCE: every round joins against
    # it, and an unmaterialized lineage would re-run the upstream pair
    # generation (the whole LSH pipeline) once per iteration
    ckpt = _make_checkpointer(edges, checkpoint_dir)
    sym = ckpt(
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    )
    labels = ckpt(
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("comp", F.col("doc_id"))
    )
    converged = False
    for _ in range(max_iter):
        neigh = (
            sym.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("comp").alias("nb_comp")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nb_comp").alias("min_nb"))
        )
        new_labels = ckpt(
            labels.join(
                neigh.select(F.col("src").alias("doc_id"), "min_nb"),
                "doc_id",
                "left",
            ).select(
                "doc_id",
                F.least(F.col("comp"), F.coalesce("min_nb", "comp")).alias("comp"),
                (F.coalesce("min_nb", "comp") < F.col("comp")).alias("chg"),
            )
        )
        changed = new_labels.filter("chg").limit(1).count()
        old = labels
        labels = new_labels.drop("chg")
        old.unpersist()
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "the pair graph has a longer path than expected: use "
            "algorithm='star' (or 'auto') for the large-star/small-star "
            "O(log n)-round variant; returning partial labels would "
            "silently split real clusters"
        )
    return labels.select("doc_id", F.col("comp").alias("component_id"))
