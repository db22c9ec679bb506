"""Deduplication operator family for large-scale training-data pipelines:

- exact (content-hash groupBy),
- n-gram Jaccard via an inverted shingle index (exact, scalable),
- MinHash + LSH banding (approximate candidate generation + exact verify),
- SimHash (bitwise near-dup signatures),
- embedding-cosine near-dup (see similarity.py).

All pure DataFrame ops. Scale analysis per operator in its docstring —
the common theme: never form the O(n²) pair space; generate candidates
through an equi-join key (hash, shingle, band, bucket) so Spark executes
a shuffle join, then verify exactly on the (tiny) candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize
from ..functions.text import h64, shingles, words


def _spread(df: DataFrame, cols: list[str], key: str | None = None) -> DataFrame:
    """Project to the named columns and guarantee at least
    ``defaultParallelism`` partitions before CPU-heavy per-row expressions
    (shingling, n_perm salted hashes).

    Why: per-row dedup math is embarrassingly parallel, but Spark's task
    count is inherited from the SCAN — a single-row-group parquet file (or
    a skewed/concatenated upstream) serializes the whole signature pass
    onto one core. One round-robin shuffle of the slim (id, text)
    projection is O(input bytes) and unlocks full-cluster CPU.

    Repartitions unconditionally: probing the current partition count via
    ``df.rdd`` forces a logical->RDD plan conversion (a JVM round-trip per
    call — q113 composes two operators that both call this), and AQE
    coalesces the exchange's output anyway when the input is small, so the
    conditional saved nothing the optimizer doesn't already handle.

    Target = max(defaultParallelism, spark.sql.shuffle.partitions): an
    explicit repartition(n) is an exact target AQE will never widen, so
    taking defaultParallelism alone could REDUCE parallelism below the
    session's configured shuffle width on an input that already had many
    well-balanced splits; the max keeps the signature pass at least as
    wide as every other exchange in the job.

    ``key`` (round 11, guide §2.4 shared-exchange rule): when the
    downstream pipeline re-clusters by an id column anyway (the
    explode→dropDuplicates(id, shingle)→Window(id) shingle-set shape),
    pass that column so THIS exchange establishes the partitioning the
    aggregate and window then reuse — HashPartitioning(id) satisfies
    ClusteredDistribution for both (id, shingle) and (id), so the
    exploded gram stream is never shuffled at all (measured on the q243
    set stage: 3 Exchanges → 1, value-identical). The keyed form also
    skips round-robin's sort-before-repartition pass. Docs-per-partition
    balance replaces row-count balance; with docs ≫ partitions the hash
    spread is even, and a single pathological giant doc serializes one
    task under EITHER placement (per-row work is indivisible).
    """
    spark = df.sparkSession
    n = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    if key is not None:
        return df.select(*cols).repartition(n, key)
    return df.select(*cols).repartition(n)


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: every row annotated with its group's
    canonical (minimum) id and group size. A single hash-partition shuffle
    on md5(text) — the cheapest possible dedup at any scale; duplicate rows
    are the ones with canonical_id != id."""
    w = Window.partitionBy("content_hash")
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Directed n-gram CONTAINMENT pairs: C(A→B) = |A∩B| / |A| ≥ t.

    Containment is the asymmetric near-dup relation Jaccard misses: a
    paragraph quoted inside a much longer page has tiny Jaccard (the
    union is dominated by the long side) but containment ≈ 1 — the
    sub-document duplication every scraped training corpus is full of
    (quoted posts, syndicated articles, boilerplate-wrapped bodies).

    Plan: the SAME inverted shingle-index equi-join as
    ``ngram_jaccard_pairs`` (docs sharing zero shingles never meet; one
    hash shuffle on the shingle), with |A∩B| from the group count; each
    unordered pair then emits up to two DIRECTED rows, one per side whose
    set is sufficiently covered. No O(n²) stage; the hot-shingle
    considerations of q91 (``df_cap``) apply identically and are not
    duplicated here — the oracle-pinned query runs uncapped.
    """
    # key=id_col: the dedup aggregate and the n_sh window below both
    # re-cluster by doc — the keyed spread makes this one exchange serve
    # all three (see _spread docstring), so the exploded gram stream
    # itself never crosses the network
    ex = _spread(df, [id_col, text_col], key=id_col).select(
        F.col(id_col).alias("did"),
        F.explode(shingles(text_col, k, distinct=False)).alias("shingle"),
    ).dropDuplicates(["did", "shingle"])
    # one-pass rule: the inverted index feeds BOTH self-join sides —
    # materialize the slim (did, shingle, n_sh) rows once
    inv = ex.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("did"))
    ).transform(materialize)
    # SHUFFLE_HASH (round-6 q335 lesson, measured there and on q91/q397):
    # the join output feeds only an aggregate, so SMJ's sort of the
    # expanded pair stream is pure waste. Build memory is O(rows/
    # partition) only when shingle keys are df-capped (q91) or roughly
    # even; on this UNCAPPED containment path a hot shingle concentrates
    # its whole posting list into one build partition, and a hash build
    # map doesn't spill the way an SMJ sort does — skewed corpora trade
    # SMJ's graceful degradation for a possible build-side OOM (SCALE.md
    # rule c2 records the exposure and the df_cap escape hatch).
    a, b = inv.alias("a"), inv.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.did") < F.col("b.did")))
        .groupBy(
            F.col("a.did").alias("id_lo"),
            F.col("b.did").alias("id_hi"),
            F.col("a.n_sh").alias("n_lo"),
            F.col("b.n_sh").alias("n_hi"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )

    # both directions minted by a row-local explode, NOT a self-union:
    # a union of two selects over `pairs` re-plans the whole index join
    # per branch (AQE's ReusedExchange recovers some of it at runtime,
    # but the logical plan still doubles), while explode emits the two
    # directed rows from the single aggregated pair row
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_lo").alias("doc_small"),
                    F.col("id_hi").alias("doc_big"),
                    F.col("n_lo").alias("n_small"),
                ),
                F.struct(
                    F.col("id_hi").alias("doc_small"),
                    F.col("id_lo").alias("doc_big"),
                    F.col("n_hi").alias("n_small"),
                ),
            )
        ).alias("d"),
        F.col("inter"),
    )
    containment = F.floor(
        F.col("inter") / F.col("d.n_small") * 1000000 + F.lit(0.5)
    ) / 1000000
    return directed.select(
        F.col("d.doc_small").alias("doc_small"),
        F.col("d.doc_big").alias("doc_big"),
        containment.alias("containment"),
    ).where(F.col("containment") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard duplicate pairs via an inverted shingle index.

    Instead of an O(n²) cross join, explode distinct shingles and self-join
    on the shingle (docs sharing zero shingles never meet — the only pairs
    materialized are those with |A∩B| ≥ 1). |A∩B| falls out of the group
    count; |A∪B| = |A|+|B|-|A∩B|.

    ``df_cap`` is the hot-bucket guard for 100 TB corpora: shingles whose
    document frequency exceeds the cap (boilerplate headers, license
    blurbs) are dropped from the INDEX — their join fan-out is O(df²) and
    one mega-shingle is the classic inverted-index production incident.
    The trade is explicit and one-sided: per-doc set sizes stay exact
    (counted before the cap), so surviving pairs can only UNDER-estimate
    Jaccard (capped shingles leave the intersection but not the union) —
    the guard can miss boilerplate-only pairs, never emit a false one.
    ``df_cap=None`` (default) keeps the exact contract — the oracle-pinned
    queries run uncapped; the capped path is covered by a crafted
    boilerplate-corpus pytest.

    Set semantics come from a distributed dedup of the exploded (doc,
    shingle) stream + a per-doc window count — NOT per-row
    ``array_distinct``, whose O(n²) string scans dominate the whole pass;
    the dedup rides the same hash shuffle the inverted index needs anyway.
    """
    # key=id_col: one doc-keyed exchange serves the spread, the dedup
    # aggregate, and the n_sh window (see _spread docstring); only the
    # optional df_cap window below needs its own shingle-keyed exchange
    ex = _spread(df, [id_col, text_col], key=id_col).select(
        F.col(id_col).alias("did"),
        F.explode(shingles(text_col, k, distinct=False)).alias("shingle"),
    ).dropDuplicates(["did", "shingle"])
    inv = ex.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("did"))
    )
    if df_cap is not None:
        # document frequency per shingle rides the same hash shuffle the
        # self-join needs; rows in over-cap postings lists are dropped
        inv = inv.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        ).where(F.col("_df") <= df_cap).drop("_df")
    # one-pass rule: both self-join sides read the materialized index
    inv = inv.transform(materialize)
    # SHUFFLE_HASH: join output feeds only the group count — no point
    # sorting the expanded pair stream (2.7x on the q397 sibling shape;
    # see q335's docstring for the scale-safety argument)
    a, b = inv.alias("a"), inv.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.did") < F.col("b.did")))
        .groupBy(
            F.col("a.did").alias("doc_a"),
            F.col("b.did").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pairs.withColumn("jaccard", (F.floor(jac * 1000000 + F.lit(0.5)) / 1000000))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (the SSJoin/PPJoin
    principle) — `ngram_jaccard_pairs`'s scale twin for high thresholds.

    The inverted-index join materializes a row for EVERY shingle two docs
    share; prefix filtering indexes only each doc's first
    ``L = n - ceil(t*n) + 1`` shingles under a global order (document
    frequency ascending, then shingle — rare shingles first, which
    minimizes candidates). Completeness: if J(A,B) >= t then
    |A∩B| >= ceil(t*|A|), so at most ``ceil(t*|A|) - 1`` elements of A sit
    outside A∩B's order-minimum x, placing x inside prefix(A) — and
    symmetrically inside prefix(B); the prefixes therefore collide on x.
    Candidates then fetch both docs' full shingle sets once and verify the
    exact Jaccard row-locally (``array_intersect``), so the output is
    bit-identical to the exhaustive inverted-index plan.

    ``ceil(t*n)`` is computed in INTEGER arithmetic (t = 4/5 for the 0.8
    default): ``ceil(0.8*5)`` in floats is 5, not 4 — a too-short prefix
    silently loses pairs, the one failure mode this operator cannot have.

    Scale: the index shrinks by ~t per doc and, more importantly, hot
    boilerplate shingles (maximal document frequency) are ordered LAST and
    fall out of every prefix — the df-cap guard falls out of the ordering
    for free. Shuffles: one for df counts + prefix ranks (same shingle
    key), one candidate equi-join, one bounded fetch join per side.
    """
    if abs(threshold - 0.8) > 1e-9:
        raise ValueError("integer prefix arithmetic is derived for t=0.8")
    # Round-11 (measured): the shingle SET used to come from per-row
    # ``array_distinct`` (``shingles(distinct=True)``) and was derived
    # TWICE — once for the index, once re-derived for the verify fetch.
    # That is exactly the O(n²)-string-scan pattern
    # ``ngram_jaccard_pairs``'s docstring already bans: the distinct set
    # here instead comes from a distributed dedup of the exploded
    # (did, shingle) stream (6.55 s -> 1.32 s for the set pass at sf0.1,
    # noop-sink decomposition in OPTIMIZATION_r11.md §D), materialized
    # ONCE and reused by the df histogram, the prefix ranking, AND the
    # verify-side set reassembly — the array_distinct pass is never paid
    # at all. n_sh rides the same hash shuffle as a per-doc window count,
    # identical to |distinct shingles| by construction.
    # key=id_col (guide §2.4): one doc-keyed exchange serves the spread,
    # the dedup aggregate, AND the n_sh window — measured 3 Exchanges → 1
    # on this stage with value-identical rows
    ex = (
        _spread(df, [id_col, text_col], key=id_col)
        .select(
            F.col(id_col).alias("did"),
            F.explode(shingles(text_col, k, distinct=False)).alias("shingle"),
        )
        .dropDuplicates(["did", "shingle"])
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("did")))
        .transform(materialize)
    )
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    # (round 6: SHUFFLE_HASH was tried on this df lookup and measured
    # WORSE — the build side is one row per DISTINCT shingle, so the
    # per-partition hash map is as big as the sort it replaces; the hint
    # only pays when the build side is the slim pre-expansion index)
    ranked = ex.join(dfreq, "shingle").withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("did").orderBy("sdf", "shingle")),
    )
    # L = n - ceil(4n/5) + 1, with ceil(4n/5) = (4n + 4) div 5 exactly
    prefix_len = F.col("n_sh") - F.floor((4 * F.col("n_sh") + 4) / 5).cast("long") + 1
    # one-pass rule (the minhash_lsh_pairs shape): the prefix table feeds
    # BOTH self-join sides and the df/rank pipeline above it is two
    # shuffles deep — materialize the slim (did, shingle) prefix once;
    # the verify-side sets are reassembled below from the already-
    # materialized distinct stream, never re-derived from text.
    prefix = (
        ranked.where(F.col("pos") <= prefix_len)
        .select("did", "shingle")
        .transform(materialize)
    )
    # SHUFFLE_HASH: candidate stream feeds only the dedup aggregate
    # (same round-6 rationale as the q91/q397 index joins)
    a, b = prefix.alias("a"), prefix.hint("shuffle_hash").alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.did") < F.col("b.did")))
        .select(F.col("a.did").alias("doc_a"), F.col("b.did").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .transform(materialize)
    )
    need = (
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("did")).distinct()
    )
    # verify sets reassembled from the SAME materialized distinct stream
    # (semi-join-bounded, O(candidate docs)): collect_list over the
    # deduped rows IS the distinct set, and array order is irrelevant —
    # the verify consumes the arrays only through size()/array_intersect
    sh_small = (
        ex.join(need, "did", "left_semi")
        .groupBy("did")
        .agg(F.collect_list("shingle").alias("sh"))
        .transform(materialize)
    )
    sa = sh_small.select(F.col("did").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh_small.select(F.col("did").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = cand.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        verified.withColumn("jaccard", F.floor(jac * 1000000 + F.lit(0.5)) / 1000000)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_perm: int = 16,
    band_rows: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
    drop_observation=None,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, exact-verified.

    signature: n_perm salted-md5 minhashes per doc (computed per-row, no
    shuffle). banding: n_perm/band_rows bands; docs colliding on any band's
    row-tuple become candidates via an equi-join on (band_idx, band_key) —
    the LSH trick that replaces the O(n²) pair space with hash buckets.
    Candidates are then EXACT-verified with the true shingle Jaccard, so
    the output contains no false positives (recall is the standard LSH
    s-curve: P(candidate) = 1-(1-j^r)^b).

    At 100 TB this is the canonical dedup: the signature pass is
    embarrassingly parallel; the band join shuffles only (doc_id, band_key)
    pairs — n_perm/band_rows rows per document, independent of text size.
    The shingle sets are NOT carried through the band join (that would ship
    every doc's full shingle array n_bands× through the exchange and again
    per band collision); the exact-verify stage re-derives shingles only
    for docs that appear in some candidate pair — a semi-join-bounded
    recompute, O(candidates) not O(corpus).

    ``max_bucket_size`` is the hot-bucket guard: a band key shared by m
    docs generates O(m²) candidate pairs, and one boilerplate mega-bucket
    (e.g. every near-empty doc colliding in every band) is the classic
    MinHash production incident — AQE skew-splitting rebalances tasks but
    cannot shrink the quadratic pair count. Band rows in buckets larger
    than the cap are dropped BEFORE the self-join (the bucket census rides
    the same (band, key) hash shuffle the join needs). One-sided trade:
    every emitted pair is still exact-verified Jaccard — the cap can only
    lose candidates (a doc pair colliding exclusively in over-cap buckets),
    never admit a false positive. ``None`` (default) keeps the uncapped
    oracle-pinned contract. Pass an ``Observation`` as
    ``drop_observation`` to count dropped band rows (metric
    ``dropped_band_rows``) on the SAME job as the caller's action — no
    extra pass.
    """
    n_bands = n_perm // band_rows
    slim = _spread(df, [id_col, text_col])
    # distinct=False: MinHash is duplicate-invariant (min over a multiset ==
    # min over its set), and array_distinct's per-row O(n²) string scans are
    # 10× the cost of the whole shingle pass — set semantics are deferred to
    # the candidate-bounded verify stage below.
    # Rule: one tokenization per row, and the gram construction evaluated
    # once. shingles() binds the word array to a lambda variable and the
    # gram lambda reads that variable — a tokenizer referenced inside the
    # lambda re-runs per gram (O(words²) per row), since Spark evaluates a
    # lambda body per element and never hoists it. The filter follows the
    # same rule: filtering on size() of the PROJECTED shingle column would
    # push a COPY of the whole gram transform into the filter, so it
    # filters on the precondition instead — shingles(distinct=False) is
    # empty IFF size(words) < k, so the kept rows are identical by
    # construction (one extra tokenization in the filter, no extra grams).
    base = slim.where(F.size(words(F.col(text_col))) >= k).select(
        F.col(id_col).alias("did"), shingles(text_col, k, distinct=False).alias("sh")
    )
    # signature per-row (affine family, functions/text.py): measured against
    # an explode + grouped-min formulation, the per-row expression wins —
    # Spark's Generate over HOF-built arrays costs more than every hash in
    # the signature (the explode alone exceeded the whole per-row pass),
    # and per-row keeps the signature in the same stage as the shingles
    # with zero extra shuffle. The base-hash array is projected in its own
    # select so each shingle is md5-hashed ONCE across all permutations.
    from ..functions.text import minhash_base_hashes, minhash_signature_from_hashes

    hv = base.select("did", minhash_base_hashes(F.col("sh")).alias("hv"))
    sig = hv.select("did", minhash_signature_from_hashes("hv", n_perm).alias("sig"))
    bands = sig.select(
        "did",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", bi * band_rows + r + 1).cast("string")
                                for r in range(band_rows)
                            ],
                        ).alias("key"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("did", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket_size is not None:
        sized = bands.withColumn(
            "_bn", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
        )
        keep = F.col("_bn") <= max_bucket_size
        if drop_observation is not None:
            # a CollectMetrics node must execute exactly once per query, and
            # the band table fans out below — the materialization job right
            # after IS the one metrics pass
            sized = sized.observe(
                drop_observation,
                F.sum(F.when(~keep, 1).otherwise(0)).alias("dropped_band_rows"),
            )
        bands = sized.where(keep).drop("_bn")
    # The band table feeds THREE consumers (both self-join sides + its
    # lineage under the candidate re-fetch), and Catalyst materializes
    # common subplans per consumer, not once — unmaterialized, the plan
    # re-scans the corpus and re-derives every signature 12× (measured).
    # Eagerly materializing the slim (did, band, key) rows — n_bands rows
    # per doc, no text — makes each downstream read O(bands), cuts the
    # measured sf0.1 wall time ~25%, and is the right 100 TB shape: one
    # signature pass over the corpus, ever. materialize() picks
    # localCheckpoint locally or reliable checkpoint under
    # SPARK_GRAFT_CHECKPOINT=reliable (same one-pass contract).
    bands = bands.transform(materialize)
    # (round 6: SHUFFLE_HASH on this band join measured a wash — the
    # bucket caps already bound the expansion, so there is no big pair
    # stream to avoid sorting; rule (c2) left unapplied on purpose)
    if max_bucket_size is not None:
        # rule (c3) on the capped/production path (SCALE.md; VERDICT r9
        # ask #5): AQE coalesces exchanges by BYTES, but the self-join's
        # CPU scales with Σ n(n-1)/2 over bucket sizes — size it from the
        # exact post-cap expansion census (one O(1) scalar job over the
        # materialized slim band rows, the q242/q397 precedent). The
        # uncapped oracle-pinned path is untouched.
        from ..sizing import expansion_partitions

        exp = (
            bands.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("e"))
            .head()["e"]
        )
        bands = bands.repartition(
            expansion_partitions(bands.sparkSession, exp), "band", "key"
        )
    a, b = bands.alias("a"), bands.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.did") < F.col("b.did")),
        )
        .select(F.col("a.did").alias("doc_a"), F.col("b.did").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        # three consumers (need + both verify joins) — same one-pass rule
        .transform(materialize)
    )
    need = (
        cand_ids.select(F.col("doc_a").alias("did"))
        .unionAll(cand_ids.select(F.col("doc_b").alias("did")))
        .distinct()
    )
    sh_small = (
        slim.select(F.col(id_col).alias("did"), F.col(text_col).alias("_t"))
        .join(need, "did", "left_semi")
        .select("did", shingles(F.col("_t"), k, distinct=True).alias("sh"))
        # consumed twice (sha / shb sides of the verify join)
        .transform(materialize)
    )
    cand = (
        cand_ids.join(
            sh_small.select(F.col("did"), F.col("sh").alias("sha")),
            cand_ids.doc_a == F.col("did"),
        )
        .drop("did")
        .join(
            sh_small.select(F.col("did"), F.col("sh").alias("shb")),
            cand_ids.doc_b == F.col("did"),
        )
        .drop("did")
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    jac = inter / union
    return (
        cand.withColumn("jaccard", F.floor(jac * 1000000 + F.lit(0.5)) / 1000000)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """SimHash signature per document (bits-wide, default 16 for oracle
    compactness; 64 in production). Classic construction: each distinct
    word votes +1/-1 on every bit of its 60-bit hash; the signature is the
    sign vector. Near-dups differ in few bits — ``simhash_pairs`` turns
    the signatures into duplicate pairs via the hamming-block equi-join.

    Plan shape: explode distinct words → hash → groupBy(doc) with `bits`
    conditional sums → bit-pack. One shuffle on doc_id with map-side
    partial aggregation.
    """
    w = _spread(df, [id_col, text_col]).select(
        F.col(id_col).alias("did"), F.explode(F.array_distinct(words(text_col))).alias("word")
    ).withColumn("h", h64(F.col("word")))
    votes = w.groupBy("did").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    packed = votes.select(
        "did",
        sum(
            (F.when(F.col(f"b{b}") >= 0, F.lit(2**b)).otherwise(F.lit(0)))
            for b in range(bits)
        ).cast("long").alias("simhash"),
    )
    return packed.withColumnRenamed("did", id_col)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ ``max_hamming``,
    EXACT over the signatures — the pair generator the simhash family
    promised (round-2 VERDICT missing #1).

    Candidate generation is the pigeonhole block trick (Manku et al.,
    WWW'07 "Detecting Near-Duplicates for Web Crawling"): split the
    ``bits``-wide signature into ``max_hamming + 1`` contiguous blocks —
    two signatures within hamming distance b must agree EXACTLY on at
    least one of the b+1 blocks (b bit-flips cannot touch all b+1), so an
    equi-join on (block_idx, block_value) finds every qualifying pair.
    Candidates are then exact-verified with ``bit_count(a XOR b)``; the
    block join only bounds the pair space, never the answer.

    Scale shape: each doc emits b+1 slim (id, sig, block, value) rows —
    constant per doc, independent of text size; the join is a keyed
    shuffle on (block, value). Random signatures agree on a w-bit block
    with probability 2^-w, so fan-out concentrates only where real
    near-dups (or a degenerate all-same-signature corpus — cap with the
    q92-style bucket guard if that arises) exist. No O(n²) stage anywhere.
    """
    n_blocks = max_hamming + 1
    base_w, rem = divmod(bits, n_blocks)
    widths = [base_w + 1 if i < rem else base_w for i in range(n_blocks)]
    starts = [sum(widths[:i]) for i in range(n_blocks)]
    sig = simhash(df, text_col=text_col, id_col=id_col, bits=bits).select(
        F.col(id_col).alias("did"), F.col("simhash").alias("sig")
    )
    blocks = sig.select(
        "did",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftright("sig", starts[i])
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .alias("val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("bv"),
    ).select("did", "sig", F.col("bv.block").alias("block"), F.col("bv.val").alias("val"))
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.did") < F.col("b.did")),
        )
        .select(
            F.col("a.did").alias("doc_a"),
            F.col("b.did").alias("doc_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Min-label propagation connected components over undirected edges.

    Returns (id, label) with label = the smallest vertex id in the
    component — the canonical-document selector that turns near-dup PAIRS
    into dedup CLUSTERS. Iterative: each round every vertex takes the min
    of its own label and its neighbors'; converges in <= component-diameter
    rounds (near-dup clusters are small and dense, so a handful).

    Scale notes: each round is one shuffle (join on dst + groupBy src);
    ``materialize()`` eagerly checkpoints the round and cuts lineage so
    the plan doesn't grow with iterations (local blocks by default;
    ``SPARK_GRAFT_CHECKPOINT=reliable`` routes the same call through
    ``df.checkpoint()`` to cluster storage). Driver-side cost per round
    is two actions: the eager checkpoint and a convergence probe. The
    probe carries a did-any-label-shrink flag computed INSIDE the round's
    projection (min-propagation only ever lowers a label, so "changed" ≡
    "new < old" — no self-join against the previous round, which is what
    the round-1 version paid), and reads it with ``isEmpty`` over the
    already-materialized checkpoint blocks — a take(1) scan, not a count
    shuffle. Round count is bounded by component diameter; near-dup
    clusters are small and dense (a handful of rounds). For huge-diameter
    graphs use ``connected_components_star`` (O(log n) rounds).
    """
    # materialize the symmetric edge list ONCE: it is re-joined every round,
    # and without the checkpoint each iteration re-executes the whole
    # upstream plan that produced the pairs (for near-dup dedup that is the
    # entire MinHash pipeline — measured 3-10× the total runtime at sf0.1)
    e = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
                    ),
                    F.struct(
                        F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .transform(materialize)
    )
    labels = vertices.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("label")
    ).transform(materialize)

    def _hop(lab: DataFrame, with_chg: bool) -> DataFrame:
        nmin = (
            e.join(lab, e.dst == lab.id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        newlab = F.least(F.col("label"), F.coalesce("nmin", F.col("label")))
        cols = [lab.id.alias("id"), newlab.alias("label")]
        if with_chg:
            cols.append((newlab < F.col("label")).alias("_chg"))
        return lab.join(nmin, lab.id == nmin.src, "left").select(*cols)

    # two propagation hops per materialized round: halves the
    # checkpoint+probe fixed cost per hop. Convergence is read off the
    # SECOND hop only — "hop 2 changed nothing" means its input (hop 1's
    # output) was already a fixed point, and then hop 2's output equals
    # hop 1's, so returning it is exact.
    for _ in range(max_iter):
        new = materialize(_hop(_hop(labels, with_chg=False), with_chg=True))
        converged = new.filter(F.col("_chg")).isEmpty()
        labels = new.drop("_chg")
        if converged:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Dedupe a NEW batch against an existing (already-canonical) corpus —
    the daily-increment path: history is never re-deduped, only the new
    slice is checked against it.

    Stages (order matters and is part of the semantics):
    1. exact: drop batch docs whose content hash exists in the corpus
       (hash anti-join — O(batch) probe);
    2. exact within batch: keep the min-id representative per hash;
    3. near-dup vs corpus: MinHash-LSH pairs over corpus ∪ survivors; any
       survivor paired with a corpus doc is dropped;
    4. near-dup within batch: components over the remaining
       survivor-survivor pairs, keep cluster canonicals.

    Returns surviving batch rows (id, text).
    """
    bh = F.md5(F.col(text_col)).alias("content_hash")
    corpus_hashes = corpus.select(F.md5(F.col(text_col)).alias("content_hash"))
    new_exact = (
        batch.withColumn("content_hash", F.md5(F.col(text_col)))
        .join(corpus_hashes, "content_hash", "left_anti")
        .drop("content_hash")
    )
    bexact = (
        exact_dedup_groups(new_exact, text_col=text_col, id_col=id_col)
        .filter(F.col(id_col) == F.col("canonical_id"))
        .select(id_col, text_col)
    )
    un = corpus.select(id_col, text_col).unionByName(bexact)
    # near-dup pairs are consumed by three branches (cross-corpus drop,
    # within-batch pairs, and the components loop) — materialize ONCE; the
    # pair list is O(near-dups), tiny next to the pipeline that made it
    pairs = minhash_lsh_pairs(un, threshold=threshold).transform(materialize)
    ca = corpus.select(F.col(id_col).alias("doc_a"), F.lit(True).alias("a_corp"))
    cb = corpus.select(F.col(id_col).alias("doc_b"), F.lit(True).alias("b_corp"))
    fl = (
        pairs.join(ca, "doc_a", "left")
        .join(cb, "doc_b", "left")
        .fillna(False, ["a_corp", "b_corp"])
    )
    cross_ids = (
        fl.filter(F.col("a_corp") != F.col("b_corp"))
        .select(
            F.when(F.col("a_corp"), F.col("doc_b")).otherwise(F.col("doc_a")).alias(id_col)
        )
        .distinct()
    )
    kept = bexact.join(cross_ids, id_col, "left_anti").transform(materialize)
    bpairs = (
        fl.filter(~F.col("a_corp") & ~F.col("b_corp"))
        .join(kept.select(F.col(id_col).alias("doc_a")), "doc_a", "left_semi")
        .join(kept.select(F.col(id_col).alias("doc_b")), "doc_b", "left_semi")
        .select("doc_a", "doc_b")
    )
    labels = connected_components(bpairs, kept, id_col=id_col)
    return (
        kept.join(labels, kept[id_col] == labels.id, "left")
        .filter(F.coalesce(F.col("label"), F.col(id_col)) == F.col(id_col))
        .select(id_col, text_col)
    )


def connected_components_star(
    edges: DataFrame,
    vertices: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Large-star / small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    Same (id, label=component-min) contract as ``connected_components``,
    different convergence class: min-label propagation needs
    O(component diameter) rounds, this alternation provably converges in
    O(log n) rounds regardless of diameter — the tool for chain-shaped
    graphs (citation chains, session stitching, web link paths) where a
    diameter-length loop of shuffles is the bottleneck at scale.

    Each round:
    - large-star: every vertex u connects its strictly-larger neighbors to
      min(N(u) ∪ {u}) — long chains contract toward small ids;
    - small-star: orient edges large→small; every vertex u re-attaches its
      smaller neighbors (and itself) to the minimum — consolidates into
      stars.
    Fixed point = a star per component (every vertex directly attached to
    its component min). Per round: two groupBy shuffles + two joins + one
    full-outer convergence probe (a single ``isEmpty`` action);
    ``materialize()`` cuts lineage (reliable ``checkpoint`` under the
    ``SPARK_GRAFT_CHECKPOINT=reliable`` knob — see ``materialize.py``).
    """
    canon = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize)
    )
    ids = vertices.select(F.col(id_col).alias("id"))
    if canon.isEmpty():
        return ids.select("id", F.col("id").alias("label"))

    e = canon
    for _ in range(max_iter):
        # large-star: m(u) = min(u, min neighbor); attach neighbors > u to m
        both = e.select("a", "b").unionAll(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        lmin = both.groupBy("a").agg(F.least(F.col("a"), F.min("b")).alias("m"))
        e = (
            both.join(lmin, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: orient large->small; attach u and its smaller
        # neighbors to min(N(u) ∪ {u})
        directed = e.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        smin = directed.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            directed.join(smin, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionAll(smin.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .transform(materialize)
        )
        # e is already distinct and every row has a > b (small-star attaches
        # strictly-larger vertices to the minimum), so the least/greatest
        # swap is a 1-1 relabel — no extra distinct shuffle needed.
        new_canon = e.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        # single-probe convergence: one full-outer join on the canonical edge
        # key with presence markers — symmetric difference empty ⟺ fixed
        # point. One shuffle + one isEmpty per round (round 2 paid two
        # exceptAll shuffles + two driver actions here).
        sym_diff = (
            new_canon.withColumn("_new", F.lit(1))
            .join(canon.withColumn("_old", F.lit(1)), ["a", "b"], "full_outer")
            .filter(F.col("_new").isNull() | F.col("_old").isNull())
        )
        if sym_diff.isEmpty():
            # fixed point: e is a star forest, a (child, root) mapping
            stars = e.select(
                F.greatest("a", "b").alias("id"), F.least("a", "b").alias("label")
            )
            return ids.join(stars, "id", "left").select(
                "id", F.coalesce("label", F.col("id")).alias("label")
            )
        canon = new_canon.transform(materialize)
    raise RuntimeError(f"connected_components_star did not converge in {max_iter} rounds")
