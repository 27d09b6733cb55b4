"""Deduplication operators over a document corpus.

- exact: normalize → content hash → per-hash keep-first flags. One
  groupBy-shaped window on the hash; at 100 TB this is a single shuffle
  on a high-cardinality key (no skew: hash keys are uniform).
- MinHash-LSH near-dup: k-word shingles → H salted MinHashes → band keys
  → candidate pairs via the BAND JOIN (groupBy band bucket), exact
  Jaccard verification on candidates only. Never all-pairs: the join
  fans out only within colliding buckets, and AQE's skew-join splits a
  pathological bucket.
- SimHash near-dup: 32-bit signature from salted word hashes weighted by
  term frequency; candidate pairs via the 4-block pigeonhole join, exact
  Hamming verification on candidates.

All hashing is md5-hex based (lexicographic min == numeric min on the
fixed-width hex strings) so the same expressions run on any ANSI-ish
engine — the DuckDB oracles recompute signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import managed_persist


def _round6(c):
    # function-local to dodge the plans.__init__ -> pipeline_queries ->
    # dedup import cycle (registry itself has no plans-package deps)
    from ..plans.registry import round6

    return round6(c)

N_MINHASH = 8
N_BANDS = 4  # rows-per-band = N_MINHASH / N_BANDS = 2
SIMHASH_BITS = 32
SIMHASH_BLOCKS = 4


def normalized_text(text: Column | str = "text") -> Column:
    """Whitespace-collapse + trim + lowercase — the canonical form every
    dedup signature hashes."""
    c = F.col(text) if isinstance(text, str) else text
    return F.lower(F.trim(F.regexp_replace(c, " +", " ")))


def with_shingles(df: DataFrame, text: str = "text", k: int = 3, distinct: bool = True) -> DataFrame:
    """Append `shingles`: the k-word shingles of the normalized text
    (empty array when the doc has < k words). The word array is
    materialized ONCE per row — building shingles off a repeated
    split(text) expression re-tokenizes the document per element and
    turns an O(doc) scan into O(doc·len), a ~100× slowdown at corpus
    scale."""
    dedupe = "array_distinct" if distinct else ""
    shingle = f"""{dedupe}(transform(
        sequence(0, size(__w) - {k}),
        i -> concat_ws(' ', {", ".join(f"__w[i + {j}]" for j in range(k))})))"""
    return (
        df.withColumn("__w", F.split(normalized_text(text), " "))
        .withColumn(
            "shingles",
            F.when(F.size("__w") >= k, F.expr(shingle)).otherwise(
                F.array().cast("array<string>")
            ),
        )
        .drop("__w")
    )


def with_minhash_bands(
    df: DataFrame, id_col: str = "doc_id", n_hash: int = N_MINHASH, n_bands: int = N_BANDS
) -> DataFrame:
    """(id, shingles, mh_0..mh_{n-1}, bands): MinHash signature (min of
    salted md5 over the shingle set) + per-band keys.

    Computed as explode → ONE hash aggregate with n_hash `min`s and a
    `collect_set` (rebuilding the shingle set for the verify stage), not
    as per-row array lambdas: projection collapse would inline the
    shingle-building transform into every signature column (n_hash
    rebuilds per row), while the aggregate shape hashes each shingle
    exactly once and combines map-side, so the shuffle carries only
    n_hash minima + the set per doc."""
    exploded = df.select(F.col(id_col), F.explode("shingles").alias("s"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"mh_{i}")
        for i in range(n_hash)
    ] + [F.collect_set("s").alias("shingles")]
    out = exploded.groupBy(id_col).agg(*aggs)
    rows_per_band = n_hash // n_bands
    band_exprs = [
        F.concat(*[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)])
        for b in range(n_bands)
    ]
    return out.withColumn("bands", F.array(*band_exprs))


# Corpus-size threshold above which the band/shingle relations must not
# be broadcast: Catalyst's size estimate for a not-yet-materialized
# persisted aggregate can be garbage-small, and at 100× bench corpus
# (500k docs) it picked BroadcastHashJoin for the 8M-row band table and
# the corpus-sized shingle table and OOM-killed the driver (r9 100×
# sweep). Below the threshold the planner's broadcast is genuinely the
# fast plan (sf0.1 bench: forcing shuffle_hash cost 2.4 → 6.9 s), so
# callers pass the EXACT doc count — one parquet-metadata read, free —
# and the helpers pin shuffle_hash only when the relation actually
# scales past broadcastability. This is the size-aware join-strategy
# choice a production engine makes from table statistics; here the
# statistic is exact instead of estimated.
BROADCAST_SAFE_DOCS = 50_000


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", n_docs: int | None = None
) -> DataFrame:
    """Band join: explode band keys, self-join on (band index, key) with
    a < b, distinct pairs. THE scale move: candidates come only from
    colliding buckets, so work is Σ bucket², not n². See
    BROADCAST_SAFE_DOCS for the n_docs contract."""
    bands = sigs.select(id_col, F.posexplode("bands").alias("band", "key"))
    right = bands
    if n_docs is not None and n_docs > BROADCAST_SAFE_DOCS:
        right = right.hint("shuffle_hash")
    a, b = bands.alias("a"), right.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )


def jaccard_verified_pairs(
    candidates: DataFrame,
    shingled: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """Exact Jaccard on candidate pairs only. Intersection size via
    array_intersect (hash-based, O(|sa|+|sb|)) — the lambda
    filter/array_contains form is O(|sa|·|sb|) per pair and was the
    dominant cost of the verify stage; both operands are DISTINCT
    shingle sets so the intersect's dedup semantics change nothing."""
    sa = shingled.select(F.col(id_col).alias("a_id"), F.col("shingles").alias("sa"))
    sb = shingled.select(F.col(id_col).alias("b_id"), F.col("shingles").alias("sb"))
    if n_docs is not None and n_docs > BROADCAST_SAFE_DOCS:
        # the shingle relation scales with the corpus — past the
        # threshold a broadcast OOMs the driver (see BROADCAST_SAFE_DOCS)
        sa, sb = sa.hint("shuffle_hash"), sb.hint("shuffle_hash")
    inter = F.expr("CAST(size(array_intersect(sa, sb)) AS DOUBLE)")
    union = F.size("sa") + F.size("sb") - inter
    return (
        candidates.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", _round6("jaccard").alias("jaccard"))
    )


def prefix_ordered_shingles(
    shingled: DataFrame, id_col: str = "doc_id", n_docs: int | None = None
) -> DataFrame:
    """(id, ordered): each doc's DISTINCT shingles sorted by (global
    frequency asc, shingle asc) — the canonical token order for prefix
    filtering. Rarest-first means prefix tokens land in the smallest
    join buckets. One explode + one groupBy aggregate; the frequency
    side is an aggregate of the same exploded relation (map-side
    combined), so the whole ordering costs two shuffles on (shingle) and
    (doc) regardless of corpus size."""
    tok = shingled.select(id_col, F.explode("shingles").alias("s"))
    freq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("cnt"))
    if n_docs is not None and n_docs > BROADCAST_SAFE_DOCS:
        # unique shingles grow with the corpus — past the threshold the
        # frequency relation must never broadcast (BROADCAST_SAFE_DOCS)
        freq = freq.hint("shuffle_hash")
    return (
        tok.join(freq, "s")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("cnt", "s"))).alias("os"))
        .select(id_col, F.expr("transform(os, x -> x.s)").alias("ordered"))
    )


def with_prefix(ordered: DataFrame, threshold: float, id_col: str = "doc_id") -> DataFrame:
    """(id, pref): each doc's prefix tokens for an EXACT Jaccard join at
    `threshold` (public prefix-filtering principle: if J(a,b) >= t then a
    and b share at least one token among each set's first
    |s| - ceil(t*|s|) + 1 tokens under any global total order). Callers
    should persist the result before exploding it (Generate collapse
    would re-evaluate the slice per emitted element)."""
    return ordered.select(
        id_col,
        F.expr(
            f"slice(ordered, 1, size(ordered) - CAST(ceil({threshold} * size(ordered)) AS INT) + 1)"
        ).alias("pref"),
        F.size("ordered").alias("n_tok"),
    )


def prefix_filter_candidates(
    pref: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """Candidate pairs from shared-prefix-token buckets — rarest tokens,
    so bucket sizes stay small — never an all-pairs product; exact
    Jaccard then verifies candidates only. The PPJoin length filter
    (J >= t forces t*|a| <= |b| and t*|b| <= |a|) prunes
    size-incompatible pairs inside the join before the distinct, which
    cuts the exact-verify workload severalfold at no recall cost. The
    exact-similarity twin of the MinHash band join (which trades
    exactness for fewer candidates)."""
    ptok = pref.select(id_col, "n_tok", F.explode("pref").alias("s"))
    right = ptok
    if n_docs is not None and n_docs > BROADCAST_SAFE_DOCS:
        # corpus-sized prefix-token relation: see BROADCAST_SAFE_DOCS
        right = right.hint("shuffle_hash")
    a, b = ptok.alias("a"), right.alias("b")
    return (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("b.n_tok") >= threshold * F.col("a.n_tok"))
            & (F.col("a.n_tok") >= threshold * F.col("b.n_tok")),
        )
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )


def with_simhash(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", bits: int = SIMHASH_BITS
) -> DataFrame:
    """(id, simhash) — `bits`-wide signature string (default
    SIMHASH_BITS=32; dedup_simhash_wide passes bits=64): bit p is the
    sign of the tf-weighted sum of bit p of each FEATURE's hash. For
    p < 32 that hash bit is md5 hex digit p's high bit; for p >= 32
    the digits of a SALTED md5 supply the next 32 bits — digit
    (p mod 32) of md5("{p//32}|" + feature) — same high-bit convention,
    one extra md5 per token occurrence per extra 32-bit word.
    Features are 3-word shingles, not bare words: with a small
    vocabulary, word-level bits are frequency-correlated across the whole
    corpus, which concentrates the block join into one giant bucket
    (measured: a 3239-doc bucket at 5k docs → ~7.5M candidate pairs);
    shingle features decorrelate the bits and spread the buckets.
    Docs with < 3 words have no features and drop out.
    ONE shuffle: summing ±1 per token OCCURRENCE is already the
    tf-weighted sum, so no per-(id, feature) count stage is needed, and
    the per-id partial sums combine map-side (32 longs per doc crossing
    the wire, not 1.5M feature strings). The persist before explode is a
    materialization barrier: Generate re-evaluates a collapsed
    shingle-building projection per emitted element (O(len²) per doc);
    pinning the arrays first makes the explode a plain iteration
    (measured ~20x on a 5k-doc corpus)."""
    # pays: warm wall without it 2.8x/5.1x (simhash), 2.1x/6.6x (_wide) at sf0.01/sf0.1
    shingled = managed_persist(
        with_shingles(df.select(id_col, text), text=text, distinct=False)
    )
    tokens = shingled.select(F.col(id_col), F.explode("shingles").alias("word"))
    tokens = tokens.withColumn("h", F.md5("word"))
    # bits > 32 reuse md5 hex digits with a salt: digit p of md5("1|" + w)
    # supplies bits 32-63 — same high-bit convention, still one md5-ish
    # pass per token occurrence
    def _digit(p: int):
        salt, pos = divmod(p, 32)
        col = F.col("h") if salt == 0 else F.md5(F.concat(F.lit(f"{salt}|"), F.col("word")))
        return F.substring(col, pos + 1, 1)

    bit_sums = [
        F.sum(F.when(_digit(p) >= "8", 1).otherwise(-1)).alias(f"s{p}")
        for p in range(bits)
    ]
    sums = tokens.groupBy(id_col).agg(*bit_sums)
    sig = F.concat(
        *[F.when(F.col(f"s{p}") >= 0, F.lit("1")).otherwise(F.lit("0")) for p in range(bits)]
    )
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    blocks_n: int = SIMHASH_BLOCKS,
    n_docs: int | None = None,
) -> DataFrame:
    """Pigeonhole block join: split the signature into `blocks_n` equal
    blocks; any pair within Hamming distance blocks_n - 1 shares at
    least one exact block. Block-key CARDINALITY is 2^(bits/blocks_n) —
    a FIXED-width signature is therefore a fixed-cardinality blocking
    key whose buckets grow linearly with the corpus (the same
    scale-killer class as fixed SRP planes): at 100× bench corpus the
    32-bit/8-bit-block form has ~2k-doc buckets and Σ bucket² explodes.
    Production sizes the signature so 2^(bits/blocks_n) keeps pace with
    n — the 64-bit/16-bit-block form (dedup_simhash_wide) holds expected
    buckets at n/65536. See BROADCAST_SAFE_DOCS for the n_docs hint."""
    block = bits // blocks_n
    blocks = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(*[F.substring("simhash", b * block + 1, block) for b in range(blocks_n)])
        ).alias("blk", "key"),
    )
    right = blocks
    if n_docs is not None and n_docs > BROADCAST_SAFE_DOCS:
        right = right.hint("shuffle_hash")
    a, b = blocks.alias("a"), right.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            F.col("a.simhash").alias("a_sig"),
            F.col("b.simhash").alias("b_sig"),
        )
        .distinct()
    )


def hamming(a: str, b: str, bits: int = SIMHASH_BITS) -> Column:
    return F.expr(
        f"aggregate(sequence(1, {bits}), 0, "
        f"(acc, p) -> acc + IF(substring({a}, p, 1) = substring({b}, p, 1), 0, 1))"
    )


def _uf_partition(rows):
    """Per-partition union-find (path compression + min-id roots): emit
    (node, root-of-its-local-component) for every node the partition
    touches. The ONLY place in the package that needs per-partition
    imperative state — dict-based union-find has no DataFrame analog
    with O(E α(E)) cost."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        u, v = row[0], row[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:  # min id becomes the root, so labels are canonical
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    for x in parent:
        yield (x, find(x))


def connected_components(
    pairs: DataFrame,
    a: str = "a_id",
    b: str = "b_id",
    max_iter: int = 25,
    edges_per_partition: int = 500_000,
) -> DataFrame:
    """Duplicate-cluster assembly: connected components of the undirected
    near-dup pair graph, component id = minimum doc id reachable. The
    step a curation pipeline runs after any pairwise dedup to pick ONE
    canonical document per cluster (pairs alone can chain: A~B, B~C
    must collapse to one cluster even though A~C was never emitted).

    Two-phase contraction (the MapReduce-CC design of Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): each round
    partitions the edge list, runs an O(E α(E)) union-find INSIDE each
    partition (local star contraction, min-id roots), rewrites every
    edge to its endpoints' local roots, and drops self-loops; the
    surviving cross-partition edges — typically a small fraction —
    feed the next round. Rounds are O(log #partitions) in practice
    (2-3), INDEPENDENT of graph diameter: the previous per-round
    min-label propagation needed ~diameter rounds and measured 21
    rounds / 20 s on a 1.2k-edge ε-similarity chain graph where this
    form needs one round / ~2 s. The per-round partition count adapts
    to the surviving edge count (a tiny graph contracts in a single
    task; 1e10 edges spread at ~500k/partition), node→root mappings
    compose across rounds via a root-keyed join, and localCheckpoint
    truncates the loop lineage. Driver traffic is one scalar count per
    round.

    Deterministic by construction: local roots are component minima, so
    the composed label of every node is the global minimum of its
    component regardless of partitioning or round count. A node whose
    edges span several partitions appears once per partition in a
    round's local mapping (possibly under different interim roots);
    those rows all converge to the same final label, so the result is
    deduplicated per round and at the end — row multiplicity must be
    exactly one per node, independent of `edges_per_partition` (the
    per-round partition sizing knob, parameterized so tests can force
    the multi-partition path on small graphs).
    """
    spark = pairs.sparkSession
    # pays: warm wall without it semdedup_prune 1.07x/1.52x (sf0.01/sf0.1)
    edges = managed_persist(
        pairs.select(
            F.col(a).cast("long").alias("src"), F.col(b).cast("long").alias("dst")
        )
    )
    out_schema = "doc_id long, component long"
    total: DataFrame | None = None
    cur = edges
    n_edges = cur.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        n_part = max(
            1,
            min(
                4 * spark.sparkContext.defaultParallelism,
                int(n_edges // edges_per_partition) + 1,
            ),
        )
        # a node whose edges land in >1 partition yields one local-root
        # row per partition — distinct() here keeps the composed mapping
        # one row per (node, root) pair so multiplicity cannot compound
        # across rounds (rows stay node-cardinality-bounded)
        m = (
            spark.createDataFrame(
                cur.repartition(n_part, "src").rdd.mapPartitions(_uf_partition),
                schema="node long, root long",
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        if total is None:
            total = m
        else:
            # compose: previous roots are exactly the current round's
            # node domain, so a left join on comp covers every node
            total = (
                total.withColumnsRenamed({"node": "doc_id", "root": "comp"})
                .join(m, F.col("comp") == F.col("node"), "left")
                .select(
                    F.col("doc_id").alias("node"),
                    F.coalesce("root", "comp").alias("root"),
                )
                .distinct()
                .localCheckpoint(eager=True)
            )
        ma = m.withColumnsRenamed({"node": "src", "root": "sr"})
        mb = m.withColumnsRenamed({"node": "dst", "root": "dr"})
        cur = (
            cur.join(ma, "src")
            .join(mb, "dst")
            .filter(F.col("sr") != F.col("dr"))
            .select(F.col("sr").alias("src"), F.col("dr").alias("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_edges = cur.count()
    if n_edges != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    if total is None:
        return spark.createDataFrame([], schema=out_schema)
    # final distinct: at convergence every surviving (node, root) pair for
    # a node agrees on root, so this collapses multi-partition multiplicity
    # to exactly one row per node without changing any value
    return total.select(
        F.col("node").alias("doc_id"), F.col("root").alias("component")
    ).distinct()


# ---------------------------------------------------------------------------
# ExactSubstr span anchoring (Lee et al., "Deduplicating Training Data
# Makes Language Models Better"): content-defined mod-anchored k-gram
# hashes select ~1/A of span starts, each anchored position emits the
# md5 of the exact L-token span. Shared between the batch
# repeated_span_pairs query and the streaming anchor sink — extracted in
# round 13 so both forms hash identical spans by construction.
# ---------------------------------------------------------------------------
SPAN_K = 4  # anchor k-gram width (tokens)
SPAN_L = 50  # span length (tokens) — the ExactSubstr granularity
SPAN_A = 4  # anchor modulus: expected anchor density 1/A


def span_anchor_table(docs: DataFrame, text: str = "text") -> DataFrame:
    """(doc_id, sh) DISTINCT anchored-span md5 hashes of the normalized
    text. One scan per doc; the span array is persisted by the CALLER
    before any explode-consuming plan (the Generate re-collapse trap).
    Returns the already-exploded distinct relation."""
    from ..session import managed_persist
    from .sketches import kmv_hash

    w = F.split(normalized_text(text), " ")
    npos = F.size(w) - (SPAN_L - 1)

    def _span(p):  # anchored positions emit the span's md5, others NULL
        anchor = kmv_hash(F.array_join(F.slice(w, p + 1, SPAN_K), " "))
        return F.when(
            anchor % SPAN_A == 0,
            F.md5(F.array_join(F.slice(w, p + 1, SPAN_L), " ")),
        )

    arr = F.filter(
        F.transform(F.sequence(F.lit(0), (npos - 1).cast("int")), _span),
        lambda x: x.isNotNull(),
    )
    spark = docs.sparkSession
    # pays: warm wall without it repeated_span_pairs 1.23x/2.15x (sf0.01/sf0.1)
    sp = managed_persist(
        docs.filter(F.size(w) >= SPAN_L)
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", arr.alias("spans"))
    )
    return sp.select("doc_id", F.explode("spans").alias("sh")).distinct()


def span_pair_rollup(anchors: DataFrame, n_docs: int | None = None) -> DataFrame:
    """(doc_a, doc_b, shared_spans, span_frac) from a distinct
    (doc_id, sh) anchor relation: span-hash equi-join (Σ bucket² =
    duplication mass, never n²), pair rollup, overlap fraction against
    the smaller doc's anchor count. See BROADCAST_SAFE_DOCS for the
    n_docs contract."""
    sizes = anchors.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))
    a = anchors.select(F.col("doc_id").alias("doc_a"), "sh")
    b = anchors.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    if n_docs is not None and n_docs > BROADCAST_SAFE_DOCS:
        # corpus-sized post-aggregate relations: never broadcast
        b = b.hint("shuffle_hash")
        sizes = sizes.hint("shuffle_hash")
    pairs = (
        a.join(b, (F.col("sh") == F.col("sh_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_spans"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("ns").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("ns").alias("nb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_spans",
            _round6(
                F.col("shared_spans").cast("double") / F.least("na", "nb")
            ).alias("span_frac"),
        )
    )
