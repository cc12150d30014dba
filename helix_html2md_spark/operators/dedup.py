"""Deduplication operators for the training-data pipeline.

* exact dedup: content-hash groupBy (map-side combinable, one shuffle)
* MinHash: per-band min over hashed tokens/shingles -> banded signature
  -> bucket-join; expressed entirely in JVM-side array functions so the
  signature computation is shuffle-free
* SimHash: 64-bit majority-vote fingerprint from md5-derived token bits
  (md5 so the DuckDB oracle can recompute it), plus a Hamming-distance
  near-dup join via block-bucketing (pigeonhole: dist <= r pairs share
  at least one of r+1 exact blocks)

Plan-shape note: higher-order-function lambdas are interpreted and get
no common-subexpression elimination, so every reused array (tokens,
shingles, per-token hash digits) is materialized as a real column in its
own ``select`` before being consumed by several downstream expressions.
Catalyst's CollapseProject keeps multi-referenced non-cheap aliases in
their own Project, so each is computed exactly once per row.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import token_ngrams, tokens

N_BANDS = 4
# md5 hex alphabet used for digit -> int decoding on both engines
_HEX = "0123456789abcdef"

# DataFrames persisted by the pair-generation operators (fingerprint /
# pair tables cached at diamond points).  Spark only evicts these by LRU;
# a long-lived session running many dedup queries would otherwise
# accumulate dead cached tables, so callers that materialize results
# should call release_persisted() afterwards (bench.py does, per query).
_PERSISTED: list[DataFrame] = []


def release_persisted() -> None:
    """Unpersist every table cached by the dedup and corpus operators."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def exact_dup_stats(docs: DataFrame) -> DataFrame:
    """Per-source doc counts vs distinct content hashes (exact dedup).

    Null text hashes as the empty string: countDistinct skips nulls, so
    a source of extraction failures would otherwise report n_unique=0
    against a nonzero n_docs (silently wrong dup rates)."""
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(F.md5(F.coalesce("text", F.lit(""))))
            .alias("n_unique"),
        )
        .orderBy("source")
    )


def _band_min(arr: Column, band: int) -> Column:
    """min(md5('b:' || element)) over a materialized array column."""
    return F.array_min(
        F.transform(arr, lambda w: F.md5(F.concat(F.lit(f"{band}:"), w)))
    )


def minhash_signatures(docs: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """MinHash over the token set: band b's hash = min(md5('b:' || token)).

    No shuffle: the whole signature is computed per-row with array
    functions; only the later bucket-join shuffles, keyed by signature.
    The distinct token array is materialized once (own Project) so the
    n_bands band-min expressions share it instead of re-tokenizing.
    """
    t = docs.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("_toks")
    )
    bands = [_band_min(F.col("_toks"), b).alias(f"mh{b}") for b in range(n_bands)]
    return t.select("doc_id", *bands).withColumn(
        "signature", F.concat_ws("|", *[f"mh{b}" for b in range(n_bands)])
    )


def minhash_dup_groups(docs: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """Near-duplicate groups: documents sharing the full banded signature."""
    sig = minhash_signatures(docs, n_bands)
    return (
        sig.groupBy("signature")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("signature")
    )


def _capped_bucket_pairs(
    buckets: DataFrame,
    keys: list[str],
    max_bucket_size: int,
    payload: str | None = None,
) -> DataFrame:
    """Candidate pairs from bucket membership, skew-guarded.

    Light buckets (<= max_bucket_size members) emit all pairs via a
    same-key self-join.  Heavy buckets — e.g. a boilerplate cluster of
    10^5 identical docs landing in one bucket, which would otherwise
    yield 10^10 pairs — emit a STAR pairing against the bucket's min
    doc_id: O(n) output that still connects every member into one
    near-dup component for a union-find / connected-components pass.

    ``payload`` names an extra per-doc column to carry through as
    ``{payload}_a`` / ``{payload}_b`` so callers can verify pairs (e.g.
    Hamming distance) WITHOUT joining back to the expensive upstream —
    a join back would re-execute the whole fingerprint pipeline per
    reference.

    Plan shape: bucket size + representative come from WINDOW functions
    (one shuffle on the bucket key), not a groupBy+join — a groupBy
    would shuffle the expensive upstream a second time; here the window
    exchange is the only one, and the self-join reuses it
    (ReusedExchange), so the upstream fingerprint pipeline executes
    exactly once.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    # null bucket keys (empty/whitespace-only docs have no shingles ->
    # _band_min yields null) never pair: without this filter the light
    # self-join silently drops them (null == null is null) while the
    # heavy window path GROUPS them (partitionBy treats nulls as one
    # bucket) — recall would depend on how many empty docs share the
    # bucket.  "No content" means "no candidates" on both paths.
    buckets = buckets.filter(
        reduce(
            lambda x, y: x & y, [F.col(k).isNotNull() for k in keys]
        )
    )
    w = Window.partitionBy(*keys)
    rep_fields = [F.col("doc_id").alias("d")] + (
        [F.col(payload).alias("p")] if payload else []
    )
    tagged = buckets.withColumn("_n", F.count("*").over(w)).withColumn(
        "_rep", F.min(F.struct(*rep_fields)).over(w)
    )
    # The plan below is a diamond (self-join + heavy branch all read
    # `tagged`); per-branch column pruning makes the exchange subtrees
    # differ, so ReusedExchange does NOT kick in and the expensive
    # upstream (fingerprint pipeline) would execute once per branch.
    # Persist the small post-window table — (doc_id, keys, payload, 2
    # window cols), a few dozen bytes/row, disk-backed — exactly what a
    # production pipeline would checkpoint to a fingerprint table.
    tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(tagged)

    pl_cols = [payload] if payload else []
    light = tagged.filter(F.col("_n") <= max_bucket_size).select(
        "doc_id", *keys, *pl_cols
    )
    a, b = light.alias("a"), light.alias("b")
    same_key = reduce(
        lambda x, y: x & y,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys],
    )
    out_a = [F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")]
    if payload:
        out_a += [
            F.col(f"a.{payload}").alias(f"{payload}_a"),
            F.col(f"b.{payload}").alias(f"{payload}_b"),
        ]
    light_pairs = a.join(
        b, same_key & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(*out_a)

    out_h = [F.col("_rep.d").alias("doc_a"), F.col("doc_id").alias("doc_b")]
    if payload:
        out_h += [
            F.col("_rep.p").alias(f"{payload}_a"),
            F.col(payload).alias(f"{payload}_b"),
        ]
    heavy_pairs = tagged.filter(
        (F.col("_n") > max_bucket_size) & (F.col("doc_id") != F.col("_rep.d"))
    ).select(*out_h)
    # multi-band bucketing (MinHash bands, SimHash blocks) emits the same
    # pair once per shared bucket -> distinct
    return light_pairs.unionByName(heavy_pairs).distinct()


def minhash_candidate_pairs(
    docs: DataFrame,
    n_bands: int = N_BANDS,
    max_bucket_size: int = 256,
) -> DataFrame:
    """LSH banding: docs sharing ANY band bucket become candidate pairs.

    Classic shingle->minhash->band->bucket-join; the self-join is keyed
    by (band, hash) so only same-bucket rows shuffle together, and heavy
    buckets fall back to star pairing (see _capped_bucket_pairs).
    """
    sig = minhash_signatures(docs, n_bands)
    buckets = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"mh{b}").alias("h")
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.h")
    return _capped_bucket_pairs(buckets, ["band", "h"], max_bucket_size)


def jaccard_verified_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n_bands: int = N_BANDS,
    max_bucket_size: int = 256,
) -> DataFrame:
    """The classic two-stage near-dup pipeline: LSH banding for recall
    (cheap, shuffle-bounded) then EXACT token-set Jaccard on the
    surviving candidate pairs for precision.

    Scale shape: the expensive all-pairs kernel runs only on LSH
    candidates (linear-ish in corpus size with bounded buckets), and the
    corpus-sized token table is SEMI-JOIN PRUNED to the doc_ids that
    actually appear in a candidate pair BEFORE tokenization — at 100 TB
    most documents have no candidate partner, so without the prune both
    verify joins would shuffle every document's token array (the pair
    table outgrows the broadcast threshold long before the corpus stops
    growing).  The prune shuffles only (doc_id) — bytes, not arrays —
    and the pair table is persisted so its three consumers (two id
    projections + the verify join) don't re-run the LSH stage.
    """
    from pyspark.storagelevel import StorageLevel

    pairs = minhash_candidate_pairs(docs, n_bands, max_bucket_size).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _PERSISTED.append(pairs)
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    toks = docs.join(cand_ids, "doc_id", "left_semi").select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("_t")
    )
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("_t").alias("_ta"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("_t").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    # |A ∪ B| = |A| + |B| - |A ∩ B| exactly (both arrays are distinct
    # sets by construction): arithmetic instead of materializing a
    # union array per candidate pair
    union = F.size("_ta") + F.size("_tb") - inter
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dup_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a near-dup pair table: every document
    gets the MIN doc_id of its component as ``component`` (the canonical
    representative to keep).

    Min-label propagation WITH pointer jumping: each round a node's
    label becomes min(own, neighbors') and then chases one hop through
    the label table (label <- label(label)), so label distances halve
    per round and convergence needs O(log diameter) rounds, not
    O(diameter) — a 1000-hop chain (pathological, but possible from
    pair tables built by other tools) converges in ~10 rounds instead
    of blowing the iteration budget.  For LSH dup graphs (heavy buckets
    emit star pairs — diameter ~2) this is 1–2 rounds.

    Cost shape per round: one eager localCheckpoint job doing the two
    joins (lineage truncated so plans don't grow; at cluster scale swap
    for reliable checkpointing), plus a near-free scan of the
    checkpointed blocks for the convergence flag — the changed-label
    check is FOLDED into the update pass as a ``_changed`` column
    instead of re-joining old vs new labels (which doubled each round's
    cost).  The symmetric edge table is checkpointed once up front so
    iterations never re-run the upstream pair pipeline.  Warns if the
    iteration budget runs out before convergence (labels would be
    silently wrong otherwise).
    """
    import warnings

    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    # ONE pass over the pair pipeline: a union of edges with
    # edges-reversed duplicates the (expensive, possibly unpersisted)
    # upstream subtree — both branches re-execute the LSH self-join +
    # distinct.  explode emits both directions from a single execution.
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("doc_a"),
                        F.col("doc_b").alias("doc_b"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("doc_a"),
                        F.col("doc_a").alias("doc_b"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.doc_a", "_e.doc_b")
        .localCheckpoint()
    )
    # Round 0 fused into initialization: with identity labels the first
    # min-neighbor pass needs no join at all — min(component over
    # neighbors) IS min(doc_b) per doc_a (sym carries both directions,
    # so doc_a covers every node).  Saves the largest join of the loop.
    labels = (
        sym.groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.min("doc_b").alias("_nbr"))
        .select(
            "doc_id",
            F.col("doc_id").alias("_old"),
            F.least(F.col("doc_id"), F.col("_nbr")).alias("_c1"),
        )
    )
    changed = 0
    first = True
    for _ in range(max_iter):
        if first:
            upd = labels
            first = False
        else:
            nbr = (
                sym.join(labels, sym.doc_b == labels.doc_id)
                .groupBy("doc_a")
                .agg(F.min("component").alias("_nbr"))
                .withColumnRenamed("doc_a", "doc_id")
            )
            upd = (
                labels.select("doc_id", F.col("component").alias("_old"))
                .join(nbr, "doc_id", "left")
                .select(
                    "doc_id",
                    "_old",
                    F.least(
                        F.col("_old"), F.coalesce("_nbr", F.col("_old"))
                    ).alias("_c1"),
                )
            )
        # pointer jump: label <- min(label, label(label)); labels only
        # ever hold node ids, so the self-lookup join always resolves
        ptr = upd.select(
            F.col("doc_id").alias("_pid"), F.col("_c1").alias("_pc")
        )
        comp = F.least(F.col("_c1"), F.coalesce(F.col("_pc"), F.col("_c1")))
        new_labels = (
            upd.join(ptr, upd._c1 == ptr._pid, "left")
            .select(
                "doc_id",
                comp.alias("component"),
                (comp != F.col("_old")).cast("int").alias("_changed"),
            )
            .localCheckpoint()
        )
        changed = int(
            new_labels.agg(F.sum("_changed")).collect()[0][0] or 0
        )
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    if changed > 0:
        warnings.warn(
            f"dup_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); component labels are "
            "incomplete — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def shingles_of(toks: Column, k: int = 3) -> Column:
    """k-gram shingles over a (materialized) token array column."""
    n = F.size(toks)
    # guard: sequence(1, 0) would DESCEND in Spark; short docs get []
    idx = F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(k)]
        ),
    )


def shingles(col, k: int = 3) -> Column:
    """k-gram word shingles straight off a text column (convenience; for
    hot paths materialize tokens first and use shingles_of)."""
    return shingles_of(tokens(col), k)


def shingle_minhash_signatures(
    docs: DataFrame, n_bands: int = N_BANDS, k: int = 3
) -> DataFrame:
    """MinHash over 3-gram shingle sets — the classic near-dup signature
    (shingle -> minhash -> band); still shuffle-free per row.

    Two materializing selects: tokens once (so the k element_at's in the
    shingle builder hit a plain array column, not k inlined re-splits),
    then the distinct shingle array once (so the n_bands band-mins hash
    it without re-shingling).  This is the difference between O(bands *
    k * n) re-tokenization per row and a single pass.
    """
    t = docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
    s = t.select(
        "doc_id",
        F.array_distinct(shingles_of(F.col("_toks"), k)).alias("_sh"),
    )
    bands = [
        _band_min(F.col("_sh"), b).alias(f"smh{b}") for b in range(n_bands)
    ]
    return s.select("doc_id", *bands)


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprint: per-bit majority vote over the distinct
    token set, with token bits drawn from md5 (first 16 hex digits = 64
    bits) so a SQL oracle can recompute it digit-for-digit.

    Stages (each array materialized once — see module docstring):
      _toks     distinct tokens
      _his/_los per token: the two 32-bit halves of the 64-bit hash,
                decoded with ONE conv() each (not one per hex digit)
      bit b of the fingerprint = 1 iff more than half the tokens have
      bit (b %% 32) of their lo (b < 32) / hi (b >= 32) half set
      (size-of-filter with a constant mask: measured marginally faster
      than an aggregate-fold of (v >> k) & 1 on local[32]).
    Bit 63 contributes -2^63 (two's complement) so the fingerprint is an
    ordinary signed BIGINT on both engines, added first so intermediate
    sums never overflow.
    """
    if bits != 64:
        # the sign-bit weight, the hi/lo 32-bit split, and the 16-hex
        # md5 prefix are all hardcoded for 64; any other value would
        # produce a silently wrong fingerprint
        raise ValueError("simhash supports bits=64 only")
    t = docs.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("_toks")
    )
    h = t.select(
        "doc_id",
        F.size("_toks").alias("_n"),
        F.transform(
            F.col("_toks"), lambda w: F.substring(F.md5(w), 1, 16)
        ).alias("_hs"),
    )
    v = h.select(
        "doc_id",
        "_n",
        F.transform(
            F.col("_hs"),
            lambda s: F.conv(F.substring(s, 1, F.lit(8)), 16, 10).cast("long"),
        ).alias("_his"),
        F.transform(
            F.col("_hs"),
            lambda s: F.conv(F.substring(s, 9, F.lit(8)), 16, 10).cast("long"),
        ).alias("_los"),
    )

    n = F.col("_n")

    def bit_term(b: int) -> Column:
        src = F.col("_los") if b < 32 else F.col("_his")
        mask = 1 << (b % 32)
        ones = F.size(
            F.filter(src, lambda x: x.bitwiseAND(F.lit(mask)) != F.lit(0))
        )
        weight = -(1 << 63) if b == 63 else (1 << b)
        return F.when(ones * 2 > n, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    # sign bit first: partial sums stay within signed-64 range
    fp = bit_term(bits - 1)
    for b in range(bits - 1):
        fp = fp + bit_term(b)
    return v.select("doc_id", fp.alias("simhash"))


def simhash_blocks(n_blocks: int, bits: int = 64) -> list[tuple[int, int]]:
    """(offset, width) of each pigeonhole block; widths differ by at most
    one when n_blocks doesn't divide the fingerprint width.  Shared with
    the SQL oracle so both engines bucket identically."""
    base, extra = divmod(bits, n_blocks)
    out, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        out.append((off, w))
        off += w
    return out


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_distance: int = 3,
    n_blocks: int | None = None,
    max_bucket_size: int = 256,
    approximate: bool = False,
) -> DataFrame:
    """Hamming-distance near-dup join over SimHash fingerprints.

    Pigeonhole bucketing: fingerprints within Hamming distance
    r < n_blocks agree exactly on at least one of the n_blocks blocks
    (r differing bits can touch at most r blocks), so the self-join is
    keyed by (block_idx, block_value) — never all-pairs — then verified
    with bit_count(a XOR b) <= r.  ``n_blocks`` defaults to
    max_distance + 1, the smallest count with EXACT recall; passing a
    smaller n_blocks (coarser blocks = fewer explode rows) drops the
    guarantee to probabilistic recall and must be acknowledged with
    ``approximate=True``.  Heavy blocks (identical boilerplate) fall
    back to star pairing like the MinHash LSH path.
    """
    if n_blocks is None:
        n_blocks = max_distance + 1
    if n_blocks <= max_distance and not approximate:
        raise ValueError(
            f"n_blocks={n_blocks} <= max_distance={max_distance} only finds "
            "distance >= n_blocks pairs probabilistically; pass "
            "approximate=True to accept that, or leave n_blocks unset"
        )
    fp = simhash(docs)
    blocks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        (
                            # width-64 block (n_blocks=1, the
                            # max_distance=0 exact mode): the full
                            # value IS the block — a (1<<64)-1 mask
                            # literal would overflow the JVM long
                            F.shiftrightunsigned("simhash", off)
                            if width >= 64
                            else F.shiftrightunsigned("simhash", off)
                            .bitwiseAND(F.lit((1 << width) - 1))
                        ).alias("bv"),
                    )
                    for i, (off, width) in enumerate(
                        simhash_blocks(n_blocks)
                    )
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.blk", "b.bv")
    pairs = _capped_bucket_pairs(
        blocks, ["blk", "bv"], max_bucket_size, payload="simhash"
    )
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
            ),
        )
        .filter(F.col("hamming") <= max_distance)
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_segments(
    docs: DataFrame, segment_tokens: int = 16, max_df: int = 1
) -> DataFrame:
    """Corpus-level repeated-segment removal (the C4 / RefinedWeb
    line-dedup step): drop EVERY occurrence of any segment that appears
    in more than ``max_df`` distinct documents, and reassemble each
    document from its surviving segments in order.

    Segments are non-overlapping ``segment_tokens``-token windows (the
    corpus-agnostic stand-in for newline-split lines; real corpora pass
    pre-split lines the same way).  Output:
    (doc_id, n_segments, n_kept, kept_len, kept_md5) — one row per
    input document, including token-less documents (n_segments=0,
    kept_md5 of the empty string): a reassembling pipeline must not
    lose documents just because they were empty.

    Scale shape (round 6): the segment TEXT never leaves its document
    row.  Segments and their md5s are built per-row as arrays; only the
    slim ``(doc_id, seg_md5)`` pairs explode into the doc-frequency
    aggregation (uniform md5 key — no skew), the over-frequent hashes
    come back as one small per-doc dropped-set via a semi-join +
    collect_set, and a single doc_id join attaches those sets for an
    in-row filter + reassembly.  The first implementation shuffled the
    full segment text twice (hash equi-join + reassembly groupBy) and
    needed a persisted segment table plus a separate union branch for
    token-less documents; now one join carries the text, there is no
    persist, and every document flows through the one path.
    """
    toks = docs.select("doc_id", tokens(F.col("text")).alias("_t"))
    n = F.size("_t")
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            ((n - 1) / segment_tokens).cast("int") * segment_tokens,
            F.lit(0),
        ),
        F.lit(segment_tokens),
    )
    segs_arr = F.when(
        n > 0,
        F.transform(
            starts,
            lambda s: F.array_join(
                F.slice(
                    "_t",
                    s + 1,
                    F.least(s + segment_tokens, F.size("_t")) - s,
                ),
                " ",
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from pyspark.storagelevel import StorageLevel

    # _segs materialized once per row; _md5s in its own projection so
    # the explode below and the keep-filter later share it.  base feeds
    # THREE consumers (df-count explode, semi-join probe, final join) —
    # persist breaks the diamond exactly like the old exploded segment
    # table did, but stores one row per document instead of one per
    # segment.  Released by the caller via release_persisted().
    base = (
        toks.select("doc_id", segs_arr.alias("_segs"))
        .select(
            "doc_id", "_segs", F.transform("_segs", F.md5).alias("_md5s")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _PERSISTED.append(base)
    slim = base.select("doc_id", F.explode("_md5s").alias("seg_md5"))
    over = (
        slim.groupBy("seg_md5")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("seg_md5")
    )
    dropped = (
        slim.join(over, "seg_md5", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("seg_md5").alias("_dropped"))
    )
    joined = base.join(dropped, "doc_id", "left").select(
        "doc_id",
        "_segs",
        "_md5s",
        F.coalesce("_dropped", F.array().cast("array<string>")).alias(
            "_drop"
        ),
    )
    kept = F.filter(
        F.col("_segs"),
        lambda s, i: ~F.array_contains(
            F.col("_drop"), F.element_at(F.col("_md5s"), i + 1)
        ),
    )
    return joined.select(
        "doc_id",
        F.size("_segs").cast("long").alias("n_segments"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("kept_text"),
    ).select(
        "doc_id",
        "n_segments",
        "n_kept",
        F.length("kept_text").alias("kept_len"),
        F.md5("kept_text").alias("kept_md5"),
    )


def _window_hashes(toks: Column, window: int) -> Column:
    """md5 of every overlapping ``window``-token run (stride 1), built
    on the ONE shared guarded windower (functions/text.py
    ``token_ngrams`` — short docs yield an empty array there, so the
    descending-sequence guard has a single home)."""
    return F.transform(token_ngrams(toks, window), F.md5)


def dup_window_stats(docs: DataFrame, window: int = 50) -> DataFrame:
    """Cross-document repeated-substring statistics (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").

    A *duplicated window* is a ``window``-token run (stride 1) whose
    exact token sequence occurs >= 2 times anywhere in the corpus —
    across documents or repeated within one, matching the paper's
    any-second-occurrence semantics.  Unlike ``dedup_segments`` (fixed
    non-overlapping segments, a line-dedup stand-in) this is the
    overlapping-substring formulation: a 200-token boilerplate shared by
    two documents is caught at EVERY alignment, so coverage measures the
    true duplicated token mass, not segment-boundary luck.

    Output, one row per input document (short/empty docs included with
    zeros): ``doc_id, n_tokens, dup_windows, dup_tokens, dup_ppm`` where
    ``dup_tokens`` is the size of the UNION of the duplicated windows'
    token intervals [pos, pos+window) — overlapping hits are not
    double-counted — and ``dup_ppm`` = 1e6 * dup_tokens / n_tokens in
    integer arithmetic (bit-portable across engines).

    Scale shape: the exploded window table (~n_tokens rows per doc) is
    NOT persisted — at corpus scale materializing it costs window x the
    corpus; it is recomputed from the persisted token table for the
    join-back pass instead (two cheap JVM hash passes).  The global
    count groupBy keys on the md5 (uniform, map-side combinable); the
    dup filter keeps only count >= 2 hashes, so the semi-join's right
    side is the duplicated-vocabulary table, orders of magnitude smaller
    than the window table.  The interval-union window function
    partitions by doc_id — bounded by document length, the same bound
    tokenization already imposes.  A pathologically common window (site
    boilerplate in millions of docs) is k rows on the probe side
    matching one dup-hash row: plain shuffle join + AQE skew split, no
    single-task funnel.
    """
    from pyspark.sql import Window

    base = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    base = base.persist()
    _PERSISTED.append(base)

    wins = base.select(
        "doc_id",
        F.posexplode(_window_hashes(F.col("toks"), window)).alias(
            "pos", "whash"
        ),
    )
    dup_hashes = (
        wins.groupBy("whash")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("whash")
    )
    dup_pos = wins.join(dup_hashes, "whash", "left_semi")

    prev_end = F.max(F.col("pos") + window).over(
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.lit(0),
        F.col("pos")
        + F.lit(window)
        - F.greatest(F.coalesce(prev_end, F.col("pos")), F.col("pos")),
    )
    per_doc = (
        dup_pos.select("doc_id", "pos", contrib.alias("contrib"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("dup_windows"),
            F.sum("contrib").alias("dup_tokens"),
        )
    )
    out = base.select("doc_id", F.size("toks").alias("n_tokens")).join(
        per_doc, "doc_id", "left"
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.coalesce("dup_windows", F.lit(0)).alias("dup_windows"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.expr(
            "(1000000 * coalesce(dup_tokens, 0))"
            " div greatest(n_tokens, 1)"
        ).alias("dup_ppm"),
    )


def drop_dup_window_docs(
    docs: DataFrame, window: int = 50, max_dup_ppm: int = 500_000
) -> DataFrame:
    """Keep documents whose duplicated-window coverage stays under
    ``max_dup_ppm`` (Lee et al.'s NearDup-style document drop, expressed
    on exact-substring coverage).  Join back on doc_id so the full input
    row survives; short/empty documents have zero coverage and are kept.
    """
    stats = dup_window_stats(docs, window=window)
    keep = stats.filter(F.col("dup_ppm") <= max_dup_ppm).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi")


def contamination_stats(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark-contamination statistics: which training documents
    share any exact ``n``-token run with a held-out/benchmark table —
    the published decontamination primitive (Brown et al. 2020 remove
    train docs with a 13-gram collision against every eval set; Lee et
    al. 2022 §6 measure the same overlap).

    Both sides tokenize with the shared ``tokens()`` and hash windows
    with the shared ``_window_hashes`` kernel, so a train window and a
    bench window collide iff their token sequences are identical —
    byte-for-byte the ``dup_window_stats`` machinery pointed across
    two tables instead of within one.

    Output, one row per input TRAIN document (short/empty docs zeros):
    ``doc_id, n_tokens, contam_windows, contam_tokens, contam_ppm``
    with ``contam_tokens`` the exact interval UNION of hit windows
    (overlaps not double-counted) and integer ppm — bit-portable.

    Scale shape: the corpus-sized window table is never persisted
    (window x corpus to materialize); the BENCH side is the small one
    by construction — eval suites are MBs against a 100 TB corpus —
    so its distinct gram-hash table ships as a BROADCAST semi-join
    (``broadcast_bench=False`` falls back to a shuffled semi-join +
    AQE for an unusually large bench side).  No corpus-wide groupBy at
    all: unlike dup-window dedup there is no count >= 2 pass, the only
    aggregations key on doc_id.
    """
    from pyspark.sql import Window

    base = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    base = base.persist()
    _PERSISTED.append(base)

    wins = base.select(
        "doc_id",
        F.posexplode(_window_hashes(F.col("toks"), n)).alias(
            "pos", "whash"
        ),
    )
    bench_hashes = (
        bench.select(
            F.explode(
                _window_hashes(tokens(F.col("text")), n)
            ).alias("whash")
        )
        .distinct()
    )
    if broadcast_bench:
        bench_hashes = F.broadcast(bench_hashes)
    hits = wins.join(bench_hashes, "whash", "left_semi")

    prev_end = F.max(F.col("pos") + n).over(
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.lit(0),
        F.col("pos")
        + F.lit(n)
        - F.greatest(F.coalesce(prev_end, F.col("pos")), F.col("pos")),
    )
    per_doc = (
        hits.select("doc_id", "pos", contrib.alias("contrib"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("contam_windows"),
            F.sum("contrib").alias("contam_tokens"),
        )
    )
    out = base.select("doc_id", F.size("toks").alias("n_tokens")).join(
        per_doc, "doc_id", "left"
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.coalesce("contam_windows", F.lit(0)).alias("contam_windows"),
        F.coalesce("contam_tokens", F.lit(0))
        .cast("long")
        .alias("contam_tokens"),
        F.expr(
            "(1000000 * coalesce(contam_tokens, 0))"
            " div greatest(n_tokens, 1)"
        ).alias("contam_ppm"),
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    max_contam_windows: int = 0,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Drop training documents contaminated by the benchmark table:
    the GPT-3 policy is max_contam_windows=0 — ANY shared 13-gram
    removes the document.  Join back on doc_id so the full input row
    survives; documents shorter than ``n`` tokens cannot collide and
    are kept."""
    stats = contamination_stats(
        docs, bench, n=n, broadcast_bench=broadcast_bench
    )
    keep = stats.filter(
        F.col("contam_windows") <= max_contam_windows
    ).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi")
