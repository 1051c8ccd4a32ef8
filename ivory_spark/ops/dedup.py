"""Deduplication operators for large-scale training-data pipelines.

The reference's near-duplicate machinery is its LSH/pwsim subsystem
(minhash/simhash signatures: ivory/lsh/projection/ComputeSignaturesMinhash.java,
...Simhash.java; sliding-window similarity join:
ivory/lsh/pwsim/cl/CLSlidingWindowPwsim.java:50-367). We re-express the
same signature→bucket→verify shape with DataFrame ops:

- exact_dedup        — sha256 content hash, groupBy winner (the north-rule
                       content invariant; one shuffle, no Python);
- minhash_signatures — portable md5-based min-hash over the token set;
                       banding → bucket equi-join → exact-Jaccard verify
                       (LSH banding replaces the reference's sorted
                       sliding window — a join, not a sort, in Spark);
- simhash            — 16-bit tf-weighted simhash + Hamming-distance pairs;
- ngram_jaccard_pairs— exact word-n-gram Jaccard via shingle equi-join
                       (index-join beats the O(n^2) cross product);
- embedding_neardup  — cosine-similarity pairs over an embedding column.

Every hash here is md5-based (not Spark's murmur3 `hash()`) so a DuckDB
oracle can reproduce results bit-for-bit for the correctness gate.

Scale notes: all pair generation goes through equi-joins on bucket/shingle
keys (shuffle on key, skew-prone buckets bounded by band width); nothing
collects to the driver; embedding pairs use a blocked self-join that at
real scale should be replaced by the LSH route (bucket first).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

TOKEN_SPLIT = " "


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT), lambda t: t != "")


def portable_hash(col: Column, seed: int) -> Column:
    """64-bit-ish deterministic hash reproducible in ANSI SQL:
    bigint of the first 15 hex chars of md5(seed || ':' || value)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One surviving row per distinct content hash (min id wins).
    Returns (doc_id, sha256, n_dupes)."""
    hashed = docs.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("sha256"))
    return hashed.groupBy("sha256").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).cast("int").alias("n_dupes")
    ).select(id_col, "sha256", "n_dupes")


def minhash_signatures(
    docs: DataFrame, n_hashes: int = 12, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, m0..m{n-1}): min over the doc's distinct tokens of the
    seeded portable hash — the minhash estimate of set similarity
    (reference: ComputeSignaturesMinhash.java, re-based on md5)."""
    from ivory_spark.functions.gmap import spread_partitions

    # spread_partitions is what makes this stage parallel: the input is
    # often a one-row-group parquet file, so without it the explode +
    # 12 md5 evaluations + partial aggregation all run in ONE task
    # (measured 14.6 s -> 1.0 s for the 500k-doc 10x dedup block)
    words = spread_partitions(docs).select(
        F.col(id_col), F.explode(F.array_distinct(_tokens(F.col(text_col)))).alias("w")
    )
    aggs = [F.min(portable_hash(F.col("w"), j)).alias(f"m{j}") for j in range(n_hashes)]
    return words.groupBy(id_col).agg(*aggs)


def minhash_band_pairs(
    signatures: DataFrame,
    n_hashes: int = 12,
    band_size: int = 3,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become a
    candidate pair (doc_a < doc_b). Bucket equi-join per band.

    max_bucket: skew guard for production runs — buckets larger than
    this are dropped before the self-join (a bucket of size s yields
    s^2/2 pairs; one hot bucket can dominate the whole job). Standard
    LSH practice; costs recall only for documents whose every band
    lands in a hot bucket. None = exact banding (use for oracle checks).

    Plan shape: all band keys are emitted in ONE posexplode pass over
    the signature table (an n_bands-way union of selects would
    re-evaluate the signature aggregation once per band per join side),
    and both self-join sides share the same (band, bkey) exchange, which
    Spark reuses."""
    n_bands = n_hashes // band_size
    keys = F.array(
        *[
            F.concat_ws(
                "_", *[F.col(f"m{bnd * band_size + j}") for j in range(band_size)]
            )
            for bnd in range(n_bands)
        ]
    )
    bands = signatures.select(
        F.col(id_col), F.posexplode(keys).alias("band", "bkey")
    )
    if max_bucket is not None:
        from pyspark.sql import Window

        cnt = F.count(F.lit(1)).over(Window.partitionBy("band", "bkey"))
        bands = bands.withColumn("_bc", cnt).filter(F.col("_bc") <= max_bucket).drop("_bc")
    a = bands.select(F.col("band"), F.col("bkey"), F.col(id_col).alias("doc_a"))
    b = bands.select(F.col("band"), F.col("bkey"), F.col(id_col).alias("doc_b"))
    # shuffle-hash, not broadcast: both self-join sides then require the
    # SAME (band, bkey) hash partitioning, so Spark reuses one exchange
    # and the whole signature pipeline (scan + 12 min-aggs + bucket
    # window) is computed once — a broadcast side would re-run it
    return (
        a.join(b.hint("shuffle_hash"), ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify(
    docs: DataFrame, pairs: DataFrame, threshold: float,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs; keeps >= threshold.
    Returns (doc_a, doc_b, jaccard) with jaccard rounded to 6 dp."""
    from ivory_spark.functions.gmap import spread_partitions

    sets = spread_partitions(docs).select(
        F.col(id_col), F.array_distinct(_tokens(F.col(text_col))).alias("ws")
    )
    j = (
        pairs.join(sets.withColumnRenamed(id_col, "doc_a").withColumnRenamed("ws", "wa"), "doc_a")
        .join(sets.withColumnRenamed(id_col, "doc_b").withColumnRenamed("ws", "wb"), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("wa", "wb")))
        .withColumn("uni", F.size(F.array_union("wa", "wb")))
        .withColumn("jaccard", F.round(F.col("inter") / F.col("uni"), 6))
        .filter(F.col("jaccard") >= threshold)
    )
    return j.select("doc_a", "doc_b", "jaccard")


def minhash_dedup_pairs(
    docs: DataFrame, n_hashes: int = 12, band_size: int = 3, threshold: float = 0.8,
    id_col: str = "doc_id", text_col: str = "text", max_bucket: int | None = None,
) -> DataFrame:
    """Full minhash-LSH near-dup pipeline: sign → band → verify."""
    sigs = minhash_signatures(docs, n_hashes, id_col, text_col)
    cands = minhash_band_pairs(sigs, n_hashes, band_size, id_col, max_bucket)
    return jaccard_verify(docs, cands, threshold, id_col, text_col)


def simhash(
    docs: DataFrame, bits: int = 16, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash): tf-weighted sign-sum fingerprint
    (reference: ComputeSignaturesSimhash.java, md5-based, 16-bit)."""
    from ivory_spark.functions.gmap import spread_partitions

    words = spread_partitions(docs).select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("w")
    )
    tf = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("tf"))
    h = tf.withColumn("h", portable_hash(F.col("w"), 0))
    bit_aggs = []
    for bit in range(bits):
        signed = F.when(
            F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1)) == 1, F.col("tf")
        ).otherwise(-F.col("tf"))
        bit_aggs.append(
            F.when(F.sum(signed) > 0, F.lit(2**bit)).otherwise(F.lit(0)).alias(f"b{bit}")
        )
    sh = h.groupBy(id_col).agg(*bit_aggs)
    total = sum((F.col(f"b{bit}") for bit in range(1, bits)), F.col("b0"))
    return sh.select(F.col(id_col), total.cast("long").alias("simhash"))


def simhash_pairs(
    sims: DataFrame,
    max_hamming: int = 2,
    id_col: str = "doc_id",
    bits: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """Pairs within Hamming distance via EXACT pigeonhole bit-band
    blocking: split the fingerprint into (max_hamming + 1) bit bands —
    any pair at distance <= max_hamming must agree exactly on at least
    one band — equi-join candidates per band, then verify the true
    Hamming distance. Same output as an all-pairs scan, but the plan is
    a keyed shuffle join (no BroadcastNestedLoopJoin), linear-ish in the
    absence of fingerprint skew. This is the multi-index Hamming trick
    the reference's sliding-window pwsim approximates
    (ivory/lsh/pwsim/cl/CLSlidingWindowPwsim.java:50-367).

    max_bucket: optional skew guard — drop band buckets larger than this
    before the self-join (costs recall for docs whose every band is hot;
    None = exact, use for oracle checks)."""
    n_bands = max_hamming + 1
    base, rem = divmod(bits, n_bands)
    keys = []
    off = 0
    for i in range(n_bands):
        w = base + (1 if i < rem else 0)
        keys.append(
            F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))
        )
        off += w
    # one posexplode pass (not an n_bands union, which would re-evaluate
    # the upstream signature aggregation once per band per join side)
    bands = sims.select(F.col(id_col), F.posexplode(F.array(*keys)).alias("band", "bkey"))
    if max_bucket is not None:
        from pyspark.sql import Window

        cnt = F.count(F.lit(1)).over(Window.partitionBy("band", "bkey"))
        bands = bands.withColumn("_bc", cnt).filter(F.col("_bc") <= max_bucket).drop("_bc")
    a = bands.select("band", "bkey", F.col(id_col).alias("doc_a"))
    b = bands.select("band", "bkey", F.col(id_col).alias("doc_b"))
    cand = (
        a.join(b.hint("shuffle_hash"), ["band", "bkey"])  # reuse one exchange (see minhash_band_pairs)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sims.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("ha"))
    sb = sims.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("hb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct)."""
    toks = _tokens(text)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5,
    id_col: str = "doc_id", text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle equi-join:
    candidates = pairs sharing >= 1 shingle (inverted-index join, the
    IR-flavored alternative to a cross product), then exact verify.

    max_shingle_df: skew guard for production runs — shingles appearing
    in more than this many docs are dropped from CANDIDATE GENERATION
    only (a boilerplate shingle shared by s docs contributes s^2/2
    candidate pairs; one hot shingle can dominate the job — the same
    guard minhash banding has via max_bucket). The Jaccard itself is
    still computed over the full shingle sets, so scores are unchanged;
    only pairs whose *every* common shingle is hot can be missed.
    None = exact (use for oracle checks)."""
    from ivory_spark.functions.gmap import spread_partitions

    sh = spread_partitions(docs).select(
        F.col(id_col), ngram_shingles(F.col(text_col), n).alias("sh")
    )
    sh = sh.withColumn("nsh", F.size("sh"))
    ex = sh.select(F.col(id_col), "nsh", F.explode("sh").alias("g"))
    if max_shingle_df is not None:
        # cap applies to candidate generation; verification below uses the
        # FULL shingle sets so surviving pairs score identically
        from pyspark.sql import Window

        cnt = F.count(F.lit(1)).over(Window.partitionBy("g"))
        capped = ex.withColumn("_gc", cnt).filter(F.col("_gc") <= max_shingle_df)
        cands = (
            capped.select(F.col(id_col).alias("doc_a"), "g")
            .join(capped.select(F.col(id_col).alias("doc_b"), "g").hint("shuffle_hash"), "g")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        sa = sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sha"), F.col("nsh").alias("na"))
        sb = sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("shb"), F.col("nsh").alias("nb"))
        inter = (
            cands.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("inter", F.size(F.array_intersect("sha", "shb")))
            .select("doc_a", "doc_b", "na", "nb", "inter")
        )
    else:
        a = ex.select(F.col(id_col).alias("doc_a"), F.col("nsh").alias("na"), "g")
        b = ex.select(F.col(id_col).alias("doc_b"), F.col("nsh").alias("nb"), "g")
        # no shuffle_hash hint: uncapped, a hot shingle's partition can
        # outgrow a hash build side, where a sort-merge join spills
        inter = (
            a.join(b, "g")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b", "na", "nb")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    return (
        inter.withColumn(
            "jaccard", F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """EXACT cosine near-duplicate pairs via a block-replicated equi-join.

    Each vector lands in block (id % n_blocks); the left side is
    replicated once per target block and joined on block id — a plain
    shuffle equi-join, so Catalyst never falls back to a
    BroadcastNestedLoopJoin, and the O(n^2) pair evaluations split into
    n_blocks independent shuffle partitions that scale out. Exact
    all-pairs is inherently quadratic; at 100 TB use
    embedding_neardup_pairs_lsh (SRP buckets, approximate) and reserve
    this for verification samples.
    """
    from ivory_spark.ops.similarity import cosine_expr

    from ivory_spark.functions.gmap import spread_partitions

    emb = spread_partitions(emb)
    a = emb.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("va"))
    a = a.withColumn("blk", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
    b = emb.select(
        F.col(id_col).alias("doc_b"),
        F.col(vec_col).alias("vb"),
        (F.col(id_col) % n_blocks).cast("int").alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("cosine", F.round(cosine_expr(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def embedding_neardup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate cosine near-dup pairs: sign-random-projection buckets
    generate candidates (equi-join; multiprobe expands each vector to the
    buckets within Hamming distance `multiprobe` of its own, lifting
    recall), then exact cosine verification. The linear-ish 100-TB path;
    recall vs the exact plan is asserted in tests."""
    from ivory_spark.ops.similarity import cosine_expr, probe_buckets_expr, rademacher_planes

    from ivory_spark.functions.gmap import spread_partitions

    planes = rademacher_planes(dim, n_planes)
    e = spread_partitions(emb).withColumn(
        "bucket", F.explode(probe_buckets_expr(F.col(vec_col), planes, multiprobe))
    )
    a = e.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("va"), "bucket")
    b = e.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("cosine", F.round(cosine_expr(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def dedup_clusters(
    pairs: DataFrame, id_col: str = "doc_id", max_iter: int = 20
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id)
    with cluster_id = the smallest doc id in the component — the step
    that turns pairwise candidates into duplicate GROUPS (keep one row
    per cluster_id to dedup).

    Min-label propagation: every node starts labeled with itself; each
    round takes the min of its own and its neighbors' labels; converges
    in <= graph-diameter rounds (early-stops when a round changes
    nothing). Each round is one keyed join + aggregate — the standard
    Spark connected-components shape. Near-dup components are tiny and
    star-like (diameter 2-4), so max_iter=20 is a generous bound; a
    collection whose duplicate graph has longer chains should use the
    large-star/small-star variant (same output contract).

    Results persist per round and the previous round unpersists —
    the lineage does not grow unboundedly with iterations."""
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = edges.unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).distinct().persist()
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .persist()
    )
    labels.count()
    for _ in range(max_iter):
        neigh = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nl"))
            .withColumnRenamed("src", "id")
        )
        new_labels = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label"))).alias(
                    "label"
                ),
            )
            .persist()
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "id")
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    out = labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
    edges.unpersist()
    return out


def cluster_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Pick the best-scoring member of every duplicate cluster:
    (cluster_id, doc_id, score_col), ties broken by smallest doc id.

    The keep-the-best-copy policy real curation pipelines use instead
    of keep-min-id — e.g. keep the longest or highest-quality duplicate
    (`scores` is any (id_col, score_col) frame). One equi-join plus one
    partial-aggregated groupBy (max over a (score, -id) struct — no
    per-cluster sort, no window), so a pathological million-member
    cluster still reduces map-side.
    """
    j = clusters.join(scores.select(F.col(id_col), F.col(score_col)), id_col)
    best = j.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col(score_col).alias("s"), (-F.col(id_col)).alias("nid"))
        ).alias("b")
    )
    return best.select(
        "cluster_id",
        (-F.col("b.nid")).alias(id_col),
        F.col("b.s").alias(score_col),
    )
