"""Operator-level tests for the LLM-pipeline family: properties the
oracle queries can't express (ANN recall, mapInPandas plumbing, asof
tie semantics)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from data_engineer_capstone_spark.catalog import load_table
from data_engineer_capstone_spark.operators.asof import asof_join
from data_engineer_capstone_spark.operators.multimodal import (
    decode_image,
    extract_features,
    frame_sample,
    resize,
    resize_image,
    with_binary_payload,
)
from data_engineer_capstone_spark.operators.similarity import (
    brute_force_topk,
    ivf_ann_topk,
    lsh_ann_topk,
)


def test_lsh_ann_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    exact = brute_force_topk(q, c, k=5)
    approx = lsh_ann_topk(q, c, dim=64, k=5, n_planes=4, n_tables=8)
    exact_set = {(r.query_id, r.candidate_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.candidate_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"LSH ANN recall too low: {recall}"
    # determinism: same buckets on re-run
    again = {(r.query_id, r.candidate_id) for r in
             lsh_ann_topk(q, c, dim=64, k=5, n_planes=4, n_tables=8).collect()}
    assert approx_set == again


def test_ivf_ann_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    exact = {(r.query_id, r.candidate_id) for r in brute_force_topk(q, c, k=5).collect()}
    approx = {(r.query_id, r.candidate_id) for r in
              ivf_ann_topk(q, c, dim=64, k=5, n_lists=8, n_probe=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF ANN recall too low: {recall}"
    again = {(r.query_id, r.candidate_id) for r in
             ivf_ann_topk(q, c, dim=64, k=5, n_lists=8, n_probe=3).collect()}
    assert approx == again  # deterministic training + assignment


def test_multimodal_plumbing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    payload = with_binary_payload(docs)
    feats = extract_features(payload)
    rows = feats.select("doc_id", "byte_len", "height", "width", "channels", "mean_byte").collect()
    assert len(rows) == 20
    for r in rows:
        assert 1 <= r.height <= 64 and 1 <= r.width <= 64 and r.channels == 3
        assert 0 < r.mean_byte < 256
    frames = frame_sample(payload.limit(2), every=16)
    f = frames.select("doc_id", "frame_idx", "byte_offset", "frame_byte").collect()
    assert all(r.byte_offset == 1 + 16 * r.frame_idx for r in f)


def test_resize_stage(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(10)
    feats = extract_features(with_binary_payload(docs))
    out = resize(feats, target=(8, 8)).select("doc_id", "resized").collect()
    assert len(out) == 10
    assert all(len(r.resized) == 64 for r in out)
    # deterministic: same input -> same bytes
    again = resize(feats, target=(8, 8)).select("doc_id", "resized").collect()
    assert {r.doc_id: bytes(r.resized) for r in out} == {
        r.doc_id: bytes(r.resized) for r in again
    }


def test_resize_image_stub_gates():
    with pytest.raises(NotImplementedError):
        resize_image(b"xx", 2, 1, (4, 4))
    assert len(resize_image(b"abcd", 2, 2, (4, 4), fake=True)) == 16
    assert resize_image(b"", 0, 0, (3, 3), fake=True) == bytes(9)


def test_decode_image_stub_gates():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    meta = decode_image(b"\x89PNG", fake=True)
    assert set(meta) == {"height", "width", "channels"}


def test_approx_sketches_error_bounds(spark, sf_dir):
    """HLL distinct counts within 3×rsd of exact; approx percentiles inside
    the exact value range and ordered."""
    from data_engineer_capstone_spark.plans import get_queries

    rows = {r.l_returnflag: r for r in
            get_queries()["q107_approx_sketches"](spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    exact = {r.l_returnflag: r for r in
             li.groupBy("l_returnflag").agg(
                 F.countDistinct("l_orderkey").alias("d"),
                 F.min("l_extendedprice").alias("lo"),
                 F.max("l_extendedprice").alias("hi")).collect()}
    for flag, r in rows.items():
        e = exact[flag]
        assert abs(r.approx_orders - e.d) / e.d <= 0.06, (flag, r.approx_orders, e.d)
        assert e.lo <= r.price_p50 <= r.price_p95 <= e.hi


def test_hll_sketch_union_error_bound(spark, sf_dir):
    """q208's day-merged HLL estimates stay within 5% of the exact distinct
    count, and re-running yields identical estimates (deterministic)."""
    from data_engineer_capstone_spark.plans import get_queries

    q = get_queries()["q208_hll_sketch_union"]
    est = {r.event_type: r.distinct_users_est for r in q(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    exact = {r.event_type: r.d for r in
             ev.groupBy("event_type").agg(
                 F.countDistinct("user_id").alias("d")).collect()}
    for et, e in exact.items():
        assert abs(est[et] - e) / e <= 0.05, (et, est[et], e)
    again = {r.event_type: r.distinct_users_est for r in q(spark, sf_dir).collect()}
    assert est == again


def test_salted_join_matches_plain_join(spark, sf_dir):
    from data_engineer_capstone_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    plain = li.join(od, "l_orderkey").groupBy().agg(
        F.count(F.lit(1)), F.sum("l_quantity"), F.sum("o_custkey")
    ).collect()
    salted = salted_join(li, od, ["l_orderkey"], n_salts=8).groupBy().agg(
        F.count(F.lit(1)), F.sum("l_quantity"), F.sum("o_custkey")
    ).collect()
    assert plain == salted

    # left join: unmatched large-side rows survive exactly once
    left_plain = li.join(od.limit(0), "l_orderkey", "left").count()
    left_salted = salted_join(li, od.limit(0), ["l_orderkey"], how="left").count()
    assert left_plain == left_salted == li.count()

    with pytest.raises(ValueError):
        salted_join(li, od, ["l_orderkey"], how="full")


def test_incremental_dedup_semantics(spark):
    """Crafted cases: exact-dup-of-corpus dropped, near-dup-of-corpus
    dropped, within-batch near-dups collapse to the min-id canonical,
    unique doc survives."""
    from data_engineer_capstone_spark.operators.dedup import incremental_dedup

    # long docs so a one-word edit stays above the 0.8 jaccard threshold
    base = " ".join(f"word{i}" for i in range(40))
    other = " ".join(f"term{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text about spark engines at scale ok")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base),  # exact dup of corpus doc 1 -> dropped
            (11, base.replace("word39", "cat")),  # near-dup of corpus 1 -> dropped
            (12, other),
            (13, other.replace("term39", "dog")),
            # 12/13 are near-dups of each other -> keep min id 12
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in incremental_dedup(batch, corpus).collect()}
    assert kept == {12}, kept


def test_asof_join_tie_and_missing(spark):
    TS = datetime.datetime
    left = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10, 0), "e1"), (1, TS(2024, 1, 1, 9, 0), "e2"),
         (2, TS(2024, 1, 1, 10, 0), "e3")],
        "user_id int, ts timestamp_ntz, tag string",
    )
    right = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10, 0)), (1, TS(2024, 1, 1, 8, 0))],
        "user_id int, ts timestamp_ntz",
    )
    out = {r.tag: r.ts_asof for r in asof_join(left, right, on="user_id", value_cols=["ts"]).collect()}
    assert out["e1"] == TS(2024, 1, 1, 10, 0)  # exact tie matches (<= semantics)
    assert out["e2"] == TS(2024, 1, 1, 8, 0)
    assert out["e3"] is None  # no right rows for the key


def test_asof_join_forward_direction(spark):
    """forward: earliest right row with right.ts >= left.ts; exact tie
    matches; no later right row -> null."""
    TS = datetime.datetime
    left = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10, 0), "e1"), (1, TS(2024, 1, 1, 11, 30), "e2"),
         (1, TS(2024, 1, 1, 13, 0), "e3"), (2, TS(2024, 1, 1, 10, 0), "e4")],
        "user_id int, ts timestamp_ntz, tag string",
    )
    right = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10, 0)), (1, TS(2024, 1, 1, 12, 0))],
        "user_id int, ts timestamp_ntz",
    )
    out = {r.tag: r.ts_asof for r in asof_join(
        left, right, on="user_id", value_cols=["ts"], direction="forward"
    ).collect()}
    assert out["e1"] == TS(2024, 1, 1, 10, 0)  # exact tie matches (>= semantics)
    assert out["e2"] == TS(2024, 1, 1, 12, 0)  # next reading after the event
    assert out["e3"] is None                   # nothing later
    assert out["e4"] is None                   # no right rows for the key
    import pytest as _pytest

    with _pytest.raises(ValueError):
        asof_join(left, right, on="user_id", direction="nearest")


def test_star_components_high_diameter_converges_fast(spark):
    """A 64-vertex path (diameter 63) resolves within 12 alternation
    rounds — the O(log n) bound that makes the star algorithm the scale
    path for chain-shaped graphs; min-label propagation would need 63."""
    from data_engineer_capstone_spark.operators.dedup import connected_components_star

    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "doc_a int, doc_b int")
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id int")
    labels = {r.id: r.label
              for r in connected_components_star(edges, verts, max_iter=12).collect()}
    assert labels == {i: 0 for i in range(n)}


def test_star_components_driver_action_budget(spark):
    """The star loop's convergence probe must stay at ONE driver action per
    round (full-outer symmetric-difference isEmpty) — round 2 paid two
    exceptAll shuffles + two isEmpty actions, two extra shuffles a round.
    With the single probe the measured job total for this graph is 54
    (each AQE shuffle stage counts as a job); the round-2 double-probe
    shape measures 60, so the bound below trips if it comes back."""
    from data_engineer_capstone_spark.operators.dedup import connected_components_star

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)] + [(10, 11)], "doc_a long, doc_b long"
    )
    vertices = spark.createDataFrame(
        [(i,) for i in range(1, 7)] + [(10,), (11,)], "doc_id long"
    )
    sc.setJobGroup("star-budget", "star action budget", interruptOnCancel=False)
    try:
        labels = {r.id: r.label for r in
                  connected_components_star(edges, vertices, id_col="doc_id").collect()}
    finally:
        sc.setJobGroup("", "")
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}
    jobs = sc.statusTracker().getJobIdsForGroup("star-budget")
    assert len(jobs) <= 57, f"driver-action blowup: {len(jobs)} jobs"


def test_quality_checks_crafted_violations(spark):
    from data_engineer_capstone_spark.operators.quality import (
        fused_row_checks,
        quality_report,
        ri_check,
        unique_check,
    )

    df = spark.createDataFrame(
        [(1, "a", 5.0), (1, "b", -2.0), (2, None, 1.0), (3, "zz", 99.0)],
        "id long, name string, val double",
    )
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    rows = fused_row_checks(
        df,
        {
            "name_nonnull": F.col("name").isNull(),
            "val_range": (F.col("val") < 0) | (F.col("val") > 50),
        },
    )
    rep = quality_report(
        [
            rows,
            unique_check(df, "id_unique", ["id"]),
            ri_check(df, parent, "id", "pk", "id_ri"),
        ]
    ).collect()
    got = {r.check_name: (r.violations, r.passed) for r in rep}
    assert got == {
        "name_nonnull": (1, False),
        "val_range": (2, False),   # -2.0 and 99.0
        "id_unique": (1, False),   # id=1 twice
        "id_ri": (1, False),       # id=3 has no parent
    }
    assert [r.check_name for r in rep] == sorted(got)


def test_quality_checks_all_pass(spark):
    from data_engineer_capstone_spark.operators.quality import (
        fused_row_checks,
        quality_report,
    )

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    rep = quality_report(
        [fused_row_checks(df, {"name_nonnull": F.col("name").isNull()})]
    ).collect()
    assert rep[0].violations == 0 and rep[0].passed


def test_connected_components_driver_action_budget(spark):
    """The CC loop must stay at TWO driver actions per round (eager
    checkpoint + take(1)-style convergence probe) — the round-1 version
    paid a third shuffled count-join per round. AQE materializes each
    shuffle stage as its own job, so the observable floor is ~8 jobs per
    round for the checkpoint's join+agg plan plus 1 for the probe; the
    measured total for this 6-round graph is 50. The bound below trips if
    anyone reintroduces a per-round join-shuffle probe (+3 stage-jobs per
    round ⇒ ~70) while tolerating AQE count jitter."""
    from data_engineer_capstone_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)] + [(10, 11)], "doc_a long, doc_b long"
    )
    vertices = spark.createDataFrame(
        [(i,) for i in range(1, 7)] + [(10,), (11,)], "doc_id long"
    )
    sc.setJobGroup("cc-budget", "cc action budget", interruptOnCancel=False)
    try:
        labels = {r.id: r.label for r in
                  connected_components(edges, vertices, id_col="doc_id").collect()}
    finally:
        sc.setJobGroup("", "")
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}
    jobs = sc.statusTracker().getJobIdsForGroup("cc-budget")
    assert len(jobs) <= 60, f"driver-action blowup: {len(jobs)} jobs"


def test_real_decode_path_when_codec_present():
    """Auto-detect: with Pillow importable the real decode/resize run; in
    this container (no codec) the gates hold and the fake path is selected
    by default. The real branch is exercised conditionally so a deploy with
    PIL picks it up without code changes."""
    from data_engineer_capstone_spark.operators import multimodal as mm

    if not mm.HAS_PIL:
        pytest.skip("Pillow not installed in this environment")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (5, 7), (1, 2, 3)).save(buf, format="PNG")
    meta = mm.decode_image(buf.getvalue())
    assert meta == {"height": 7, "width": 5, "channels": 3}
    out = mm.resize_image(buf.getvalue(), 7, 5, (4, 4))
    assert len(out) == 4 * 4 * 3


def test_cosine_pairs_lsh_subset_and_recall(spark, sf_dir):
    """q224's generator: emitted pairs must be a SUBSET of the exact
    cosine_pairs output with identical (deterministically rounded) scores —
    LSH bucketing can only lose candidates, never invent one (exact
    verify) — and recall against the exact baseline must clear the floor
    for the seeded deterministic config (all corpus pairs sit in the
    0.45-0.55 band, the hardest case for the s-curve)."""
    from data_engineer_capstone_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.id_a, r.id_b): r.cos_sim
             for r in cosine_pairs(emb, threshold=0.45).collect()}
    lsh = {(r.id_a, r.id_b): r.cos_sim
           for r in cosine_pairs_lsh(
               emb, dim=64, threshold=0.45, n_planes=4, n_tables=16
           ).collect()}
    assert set(lsh) <= set(exact), "LSH emitted a pair the exact baseline lacks"
    for pair, sim in lsh.items():
        assert sim == exact[pair], f"score mismatch on {pair}"
    recall = len(lsh) / len(exact) if exact else 1.0
    assert recall >= 0.8, f"LSH pair recall too low: {recall}"
    # determinism: seeded planes -> identical candidates on re-run
    again = {(r.id_a, r.id_b) for r in cosine_pairs_lsh(
        emb, dim=64, threshold=0.45, n_planes=4, n_tables=16).collect()}
    assert set(lsh) == again


def test_minhash_hot_bucket_guard(spark):
    """A boilerplate mega-bucket (every doc sharing one band key) is the
    classic MinHash production incident: the capped run must drop the
    over-cap band rows (counted via observe on the SAME action), emit only
    exact-verified pairs, and produce a candidate set that is a subset of
    the uncapped run's."""
    from pyspark.sql import Observation

    from data_engineer_capstone_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, base + f"tail{i % 3}") for i in range(120)]
    rows += [(1000 + i, f"totally unrelated document number {i} with unique words {i*7}")
             for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {(r.doc_a, r.doc_b)
                for r in minhash_lsh_pairs(docs, threshold=0.8).collect()}
    obs = Observation("lsh_drops")
    capped_df = minhash_lsh_pairs(
        docs, threshold=0.8, max_bucket_size=30, drop_observation=obs
    )
    capped = {(r.doc_a, r.doc_b) for r in capped_df.collect()}
    assert obs.get["dropped_band_rows"] > 0, "cap never triggered on the mega-bucket"
    assert capped <= uncapped
    # the mega-bucket (120 boilerplate docs in every band) is fully over
    # cap, so the capped candidate space collapses
    assert len(capped) < len(uncapped)


def test_ngram_df_cap_guard(spark):
    """df_cap drops over-frequent shingles from the inverted index: capped
    output is a subset of the uncapped (Jaccard only under-estimates), and
    pairs sharing ONLY boilerplate shingles disappear."""
    from data_engineer_capstone_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "standard license header text "
    rows = [(i, boiler + f"unique body {i} content {i * 13}") for i in range(40)]
    rows += [(100, boiler + "shared tail alpha"), (101, boiler + "shared tail alpha")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {(r.doc_a, r.doc_b)
                for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    capped = {(r.doc_a, r.doc_b)
              for r in ngram_jaccard_pairs(docs, threshold=0.5, df_cap=10).collect()}
    assert capped <= uncapped
    assert (100, 101) in uncapped  # true near-dup pair exists either way


def test_keyed_spread_shares_one_exchange(spark):
    """Round-11 keyed ``_spread`` pin (guide §2.4 shared-exchange rule):
    the explode → dropDuplicates(did, shingle) → Window(did) shingle-set
    stage, spread keyed by the doc id, must establish its hash
    partitioning ONCE — HashPartitioning(did) satisfies the clustered
    distribution of both the (did, shingle) dedup aggregate and the
    per-doc window — and its rows must be identical to the round-robin
    form's."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.functions.text import shingles
    from data_engineer_capstone_spark.operators.dedup import _spread

    rows = [(i, f"alpha beta gamma delta epsilon doc {i % 7} body {i}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def set_stage(key):
        return (
            _spread(docs, ["doc_id", "text"], key=key)
            .select(
                F.col("doc_id").alias("did"),
                F.explode(shingles("text", 3, distinct=False)).alias("shingle"),
            )
            .dropDuplicates(["did", "shingle"])
            .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("did")))
        )

    keyed, rr = set_stage("doc_id"), set_stage(None)
    krows = {(r.did, r.shingle, r.n_sh) for r in keyed.collect()}
    assert krows == {(r.did, r.shingle, r.n_sh) for r in rr.collect()}

    def final_plan(df):
        # the AQE toString repeats the plan (Final + Initial) — count the
        # final section only
        return (
            df._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )

    kplan, rplan = final_plan(keyed), final_plan(rr)
    # Relative assertions (ADVICE r11 #4): the OPTIMIZATION is "the keyed
    # spread shares one exchange where round-robin pays more", not a
    # specific node census — exact counts were brittle across Spark/AQE
    # versions even when the win held. On Spark 4.1 the keyed form runs 1
    # hash exchange and the round-robin form 2 + the round-robin itself.
    k_hash = kplan.count("Exchange hashpartitioning")
    r_hash = rplan.count("Exchange hashpartitioning")
    assert "roundrobin" not in kplan.lower(), kplan
    assert "roundrobin" in rplan.lower(), rplan
    assert 1 <= k_hash < r_hash, (k_hash, r_hash)


def test_minhash_precondition_filter_matches_size_filter(spark):
    """Round-11 duplication fix pin (guide §4.4, native-HOF edition): the
    MinHash base stage filters on the cheap precondition
    size(words) >= k, which keeps exactly the rows the old
    size(shingles) > 0 post-projection filter kept (shingles is empty iff
    the doc has < k words — null/empty/short texts all drop), without the
    optimizer pushing a COPY of the whole gram transform into the filter."""
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.functions.text import shingles, words

    rows = [
        (1, None),
        (2, ""),
        (3, "one two"),
        (4, "one two three"),
        (5, "a much longer document with many words in it"),
        (6, "  punctuation, only: three words! "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new_df = docs.where(F.size(words(F.col("text"))) >= 3).select(
        "doc_id", shingles("text", 3, distinct=False).alias("sh")
    )
    old_df = docs.select(
        "doc_id", shingles("text", 3, distinct=False).alias("sh")
    ).where(F.size("sh") > 0)
    new_rows = {(r.doc_id, tuple(r.sh)) for r in new_df.collect()}
    old_rows = {(r.doc_id, tuple(r.sh)) for r in old_df.collect()}
    assert new_rows == old_rows
    assert {r[0] for r in new_rows} == {4, 5, 6}
    # the old shape evaluates the gram construction twice per row (the
    # pushed filter carries its own copy of the transform); the
    # precondition form builds it exactly once
    new_plan = new_df._jdf.queryExecution().executedPlan().toString()
    old_plan = old_df._jdf.queryExecution().executedPlan().toString()
    assert 0 < new_plan.count("concat_ws") < old_plan.count("concat_ws"), (
        new_plan.count("concat_ws"),
        old_plan.count("concat_ws"),
    )


def _inline_shingles(col, k, distinct):
    """The earlier ``shingles()`` formula, kept as the twin: the word array
    is referenced inside the gram lambda, so the tokenizer runs once per
    gram instead of once per row."""
    from data_engineer_capstone_spark.functions.text import words

    w = words(col)
    n = F.size(w)
    idx = F.sequence(F.lit(1), n - (k - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, k)))
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def test_shingles_bound_words_match_inline_twin(spark):
    """``shingles()`` tokenizes once per row (the word array is bound to a
    lambda variable) and must return exactly what the inline formula
    returns — same grams in the same order, same type — for k in {3,4,5},
    with and without ``distinct``, on the degenerate inputs: null, empty
    and punctuation-only text, fewer than k and exactly k words, and
    repeated words."""
    from data_engineer_capstone_spark.functions.text import shingles

    rows = [
        (1, None),
        (2, ""),
        (3, " ,.;! -- ?"),
        (4, "one two"),
        (5, "one two three"),
        (6, "One, two; three... four"),
        (7, "one two three four five"),
        (8, "a a a a a a a"),
        (9, "the cat the cat the cat sat on the cat"),
        (10, " ".join(f"w{i % 7}" for i in range(40))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    combos = [(k, d) for k in (3, 4, 5) for d in (True, False)]
    cols = []
    for k, d in combos:
        cols.append(shingles("text", k, distinct=d).alias(f"new_{k}_{d}"))
        cols.append(_inline_shingles(F.col("text"), k, d).alias(f"old_{k}_{d}"))
    out = docs.select("doc_id", *cols)
    fields = {f.name: f.dataType for f in out.schema.fields}
    got = {r.doc_id: r for r in out.collect()}
    assert len(got) == len(rows)
    for k, d in combos:
        assert fields[f"new_{k}_{d}"] == fields[f"old_{k}_{d}"]
        for doc_id, r in got.items():
            assert r[f"new_{k}_{d}"] == r[f"old_{k}_{d}"], (doc_id, k, d)
        # null/empty/punctuation-only and short docs give [], not null
        for doc_id in (1, 2, 3, 4):
            assert got[doc_id][f"new_{k}_{d}"] == []
    assert got[5]["new_3_False"] == ["one two three"]
    assert got[8]["new_3_True"] == ["a a a"]
    assert len(got[8]["new_3_False"]) == 5


def _lambda_bodies(plan: str) -> list[str]:
    """The argument text of every ``lambdafunction(...)`` in a plan string,
    found by balanced parentheses (nested lambdas included)."""
    tag = "lambdafunction("
    bodies, start = [], plan.find(tag)
    while start >= 0:
        depth, k = 1, start + len(tag)
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[k], 0)
            k += 1
        bodies.append(plan[start + len(tag) : k - 1])
        start = plan.find(tag, start + 1)
    return bodies


@pytest.mark.parametrize(
    "name",
    [
        "q92_minhash_lsh_dedup",
        "q113_curation_pipeline",
        "q212_repetition_score",
        "q241_bigram_novelty",
        "q258_pmi_collocations",
    ],
)
def test_no_tokenizer_inside_lambda_bodies(spark, sf_dir, name):
    """No lambda body may call the tokenizer: Spark evaluates a lambda body
    once per array element, so ``regexp_extract_all`` inside one
    re-tokenizes the document per shingle or bigram (O(words²) per row).
    Checked on the final optimized plan AND on every plan the query runs
    while it is built (the materialized signature and shingle tables of
    q92/q113 live there — the final plan only reads their checkpoints)."""
    from data_engineer_capstone_spark.plans import get_queries

    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    df = get_queries()[name](spark, sf_dir)
    plans = [df._jdf.queryExecution().optimizedPlan().toString()]
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ran = store.executionsCount() - before
    if ran:
        execs = store.executionsList(before, ran)
        plans += [execs.apply(i).physicalPlanDescription() for i in range(execs.size())]
    bodies = [b for p in plans for b in _lambda_bodies(p)]
    assert bodies, name  # the guard must see the shingle/bigram lambdas
    assert not [b for b in bodies if "regexp_extract_all(" in b], name


def test_redact_pii_crafted(spark):
    """Redaction order contract: emails swallowed before SSN/phone scan,
    SSN before phone (an SSN tail would otherwise match the phone
    pattern), counts taken pre-replacement per category."""
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.functions.text import redact_pii

    rows = [
        (1, "mail a.b-c_d@ex-1.co.uk then ssn 987-65-4321 then 555-0199 ok"),
        (2, "no pii here at all"),
        (3, "digits 123-4567 and 123-45-6789 and 12-34 and 1234-5678"),
        (4, "two mails x@y.io z@w.ai one phone 000-0000"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    out = {
        r["id"]: r
        for r in df.select("id", redact_pii("s").alias("r")).select("id", "r.*").collect()
    }
    assert out[1]["redacted"] == "mail <EMAIL> then ssn <SSN> then <PHONE> ok"
    assert (out[1]["n_emails"], out[1]["n_ssns"], out[1]["n_phones"]) == (1, 1, 1)
    assert out[2]["redacted"] == "no pii here at all"
    assert (out[2]["n_emails"], out[2]["n_ssns"], out[2]["n_phones"]) == (0, 0, 0)
    # 123-45-6789 is an SSN, not a phone; 123-4567 is a phone; 12-34 and
    # 1234-5678 are neither (bounded repetition + \b, no partial matches)
    assert out[3]["redacted"] == "digits <PHONE> and <SSN> and 12-34 and 1234-5678"
    assert (out[3]["n_emails"], out[3]["n_ssns"], out[3]["n_phones"]) == (0, 1, 1)
    assert out[4]["redacted"] == "two mails <EMAIL> <EMAIL> one phone <PHONE>"
    assert (out[4]["n_emails"], out[4]["n_ssns"], out[4]["n_phones"]) == (2, 0, 1)


def test_domain_mix_equalizes_and_is_reshard_stable(spark):
    """The mixer keeps the smallest domain whole, downsamples big domains
    to ~its token total in expectation, and membership is a pure function
    of doc_id — identical across partitionings."""
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.operators.mixing import domain_mix_sample

    rows = [(i, "big", "w " * 10) for i in range(400)] + [
        (1000 + i, "small", "w " * 10) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept = domain_mix_sample(df).collect()
    by_dom = {}
    for r in kept:
        by_dom.setdefault(r["source"], []).append(r["doc_id"])
    # smallest domain: keep-fraction 1 by construction
    assert sorted(by_dom["small"]) == [1000 + i for i in range(40)]
    # big domain: expected 40 of 400 kept; Bernoulli(0.1) over 400 draws —
    # assert within 5 sigma (~±30) so the test is deterministic-safe
    assert 10 <= len(by_dom["big"]) <= 70
    # re-shard stability: same membership from a different partitioning
    kept2 = domain_mix_sample(df.repartition(7, "text")).collect()
    assert sorted(r["doc_id"] for r in kept2) == sorted(r["doc_id"] for r in kept)


def test_ivf_pq_ann_recall_and_determinism(spark, sf_dir):
    """IVF-PQ correctness proof in two halves: (a) with near-lossless
    codebooks (dsub=2, 128 codes) the ADC shortlist + exact refine must
    reproduce the plain-IVF result EXACTLY — same coarse probing, so any
    divergence is an ADC/encode bug, not quantization; (b) a production-
    shaped coarse config (8 bytes/vector) keeps a recall floor on the
    synthetic near-uniform-cosine corpus (the hardest case for PQ: signal
    spread ≈ quantization noise) and is run-to-run deterministic (seeded
    training, stable argmin, integer-rounded ADC)."""
    from data_engineer_capstone_spark.operators.similarity import (
        ivf_pq_ann_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    ivf = {(r.query_id, r.candidate_id) for r in
           ivf_ann_topk(q, c, dim=64, k=5, n_lists=8, n_probe=3).collect()}
    lossless = {(r.query_id, r.candidate_id) for r in
                ivf_pq_ann_topk(q, c, dim=64, k=5, n_lists=8, n_probe=3,
                                m_sub=32, n_codes=128, refine=4).collect()}
    assert lossless == ivf, "near-lossless PQ must equal plain IVF"
    exact = {(r.query_id, r.candidate_id) for r in brute_force_topk(q, c, k=5).collect()}
    kw = dict(dim=64, k=5, n_lists=8, n_probe=3, m_sub=8, n_codes=16, refine=8)
    coarse = {(r.query_id, r.candidate_id) for r in ivf_pq_ann_topk(q, c, **kw).collect()}
    recall = len(exact & coarse) / len(exact)
    assert recall >= 0.4, f"IVF-PQ coarse recall too low: {recall}"
    again = {(r.query_id, r.candidate_id) for r in ivf_pq_ann_topk(q, c, **kw).collect()}
    assert coarse == again


def test_asof_tolerance_crafted(spark):
    """tolerance nulls matches farther than the gap, keeps in-window ones,
    ties (gap == tolerance) match, and works in both directions."""
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100.0), (2, 200.0), (3, 300.0)], "k int, ts double"
    )
    right = spark.createDataFrame(
        [(1, 95.0, "a"), (2, 150.0, "b"), (3, 290.0, "c")], "k int, ts double, v string"
    )
    out = {r["k"]: r for r in asof_join(
        left, right, on="k", value_cols=["v"], tolerance=10.0
    ).collect()}
    assert out[1]["v_asof"] == "a"      # gap 5 <= 10
    assert out[2]["v_asof"] is None     # gap 50 > 10
    assert out[3]["v_asof"] == "c"      # gap 10 == 10 (inclusive)
    fwd = {r["k"]: r for r in asof_join(
        left, right.withColumn("ts", F.col("ts") + 12), on="k",
        value_cols=["v"], direction="forward", tolerance=10.0
    ).collect()}
    assert fwd[1]["v_asof"] == "a"      # right at 107, gap 7
    assert fwd[2]["v_asof"] is None     # right at 162 is BEFORE left? no match ahead within 10
    assert fwd[3]["v_asof"] == "c"      # right at 302, gap 2


def test_fim_transform_reassembles_identity(spark, sf_dir):
    """prefix || middle || suffix must reproduce the original text for
    every document (cut points are in [1, len], substring windows tile
    the string exactly), including len-0/len-1 edge docs."""
    from data_engineer_capstone_spark.plans import get_queries

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(100000, ""), (100001, "x"), (100002, "ab")], "doc_id long, text string"
    )
    # run the registered query's plan on the real table, and the same
    # reassembly predicate on crafted edge docs via the operator exprs
    out = get_queries()["q232_fim_transform"](spark, sf_dir)
    joined = out.join(docs, "doc_id").where(
        F.concat_ws("", "prefix", "middle", "suffix") != F.col("text")
    )
    assert joined.isEmpty()
    from pyspark.sql import functions as SF
    from data_engineer_capstone_spark.functions.text import h64

    n = SF.length("text")
    c1 = 1 + h64(SF.concat(SF.lit("fim1:"), SF.col("doc_id").cast("string"))) % SF.greatest(n, SF.lit(1))
    c2 = 1 + h64(SF.concat(SF.lit("fim2:"), SF.col("doc_id").cast("string"))) % SF.greatest(n, SF.lit(1))
    lo, hi = SF.least(c1, c2), SF.greatest(c1, c2)
    re = extra.select(
        "text",
        SF.concat_ws(
            "",
            SF.substring("text", SF.lit(1), lo - 1),
            SF.substring("text", lo, hi - lo),
            SF.substring("text", hi, n),
        ).alias("re"),
    )
    assert re.where(SF.col("re") != SF.col("text")).isEmpty()


def test_containment_crafted_asymmetry(spark):
    """Crafted corpus: a short doc fully quoted inside a long one must
    emit containment 1.0 in the short->long direction while the reverse
    direction (and plain Jaccard at any sane threshold) stays low —
    the exact asymmetry q256 exists to catch."""
    from data_engineer_capstone_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long = (
        "zero one two three four five six seven eight nine ten eleven "
        + short
        + " twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    )
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally unrelated words here only")],
        ["doc_id", "text"],
    )
    pairs = {
        (r.doc_small, r.doc_big): r.containment
        for r in ngram_containment_pairs(df, threshold=0.5).collect()
    }
    assert pairs.get((1, 2)) == 1.0  # short fully inside long
    assert (2, 1) not in pairs  # long not contained in short
    assert not [k for k in pairs if 3 in k]  # unrelated doc matches nothing
    jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert not jac  # symmetric Jaccard misses the quotation entirely


def test_ewma_matches_pandas_reference(spark, sf_dir):
    """q262's per-key sequential chains must equal pandas' own
    ewm(alpha=0.25, adjust=False) — an independent implementation of the
    identical recurrence — for every user, not just hash-match DuckDB."""
    import numpy as np
    import pandas as pd

    from data_engineer_capstone_spark.plans.udf_surface import q262

    got = q262(spark, sf_dir).toPandas()
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_id", "ts", "value")
        .where("value IS NOT NULL")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    ref = (
        ev.assign(
            ewma=ev.groupby("user_id")["value"].transform(
                lambda s: s.ewm(alpha=0.25, adjust=False).mean()
            )
        )
        .assign(ewma_q=lambda d: np.floor(d["ewma"] * 1e6 + 0.5).astype("int64"))
        .sort_values(["user_id", "event_id"])[["user_id", "event_id", "ewma_q"]]
        .reset_index(drop=True)
    )
    got = got.sort_values(["user_id", "event_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, ref)


# -------------------- round-4 cross-query / mergeability properties --------
def test_triangle_count_degree_ordered_matches_id_ordered(spark, sf_dir):
    """q335's degree-ordered orientation and q201's id-ordered orientation
    must count the SAME triangles — the ordering only changes the wedge
    space, never the closure set."""
    from data_engineer_capstone_spark.plans import get_queries

    qs = get_queries()
    by_degree = qs["q335_triangle_count"](spark, sf_dir).collect()[0]
    by_id = qs["q201_triangle_count"](spark, sf_dir).collect()[0]
    assert by_degree.n_triangles == by_id.triangles
    # per-node counts must sum to 3 × total (each triangle has 3 corners)
    cc = qs["q336_clustering_coefficient"](spark, sf_dir)
    total_corners = cc.agg(F.sum("n_tri")).collect()[0][0]
    assert total_corners == 3 * by_degree.n_triangles


def test_hll_registers_merge_by_bucketwise_max(spark, sf_dir):
    """q331's registers are mergeable sub-sketches: building one sketch
    over the whole table must equal the bucket-wise MAX of sketches built
    over any disjoint split — the property that lets 100 TB of shard
    partials union into a 64-row table."""
    from data_engineer_capstone_spark.functions.text import h64
    from data_engineer_capstone_spark.plans.scale_patterns import (
        HLL_M,
        HLL_RHO_CAP,
    )

    ev = load_table(spark, sf_dir, "events")
    h = h64(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    v = F.expr(f"h div {HLL_M}")
    rho = F.least(
        F.when(v == 0, F.lit(HLL_RHO_CAP)).otherwise(
            F.bit_count(v.bitwiseAND(-v) - F.lit(1)) + F.lit(1)
        ),
        F.lit(HLL_RHO_CAP),
    )
    base = ev.select(
        F.col("event_id"), h.alias("h")
    ).select(
        "event_id", (F.col("h") % HLL_M).alias("bucket"), rho.alias("rho")
    )
    whole = base.groupBy("bucket").agg(F.max("rho").alias("reg"))
    parts = [
        base.where(F.col("event_id") % 3 == i)
        .groupBy("bucket")
        .agg(F.max("rho").alias(f"reg{i}"))
        for i in range(3)
    ]
    merged = parts[0].join(parts[1], "bucket", "full").join(
        parts[2], "bucket", "full"
    ).select(
        "bucket",
        F.greatest(
            F.coalesce("reg0", F.lit(0)),
            F.coalesce("reg1", F.lit(0)),
            F.coalesce("reg2", F.lit(0)),
        ).alias("reg"),
    )
    w = {r.bucket: r.reg for r in whole.collect()}
    m = {r.bucket: r.reg for r in merged.collect()}
    assert w == m


def test_dbscan_roles_are_consistent(spark, sf_dir):
    """Every core point carries a cluster label, noise carries none, and
    each cluster's label is the minimum pid among its core members."""
    from data_engineer_capstone_spark.plans import get_queries

    out = get_queries()["q339_dbscan_grid"](spark, sf_dir)
    rows = out.collect()
    assert {r.role for r in rows} == {"core", "border", "noise"}
    for r in rows:
        if r.role == "noise":
            assert r.cluster_label is None
        else:
            assert r.cluster_label is not None
    core_by_label = {}
    for r in rows:
        if r.role == "core":
            core_by_label.setdefault(r.cluster_label, []).append(r.pid)
    for label, members in core_by_label.items():
        assert label == min(members)


def test_ppr_with_all_seeds_equals_uniform_pagerank(spark, sf_dir, monkeypatch):
    """Personalized PageRank degenerates to q200's uniform PageRank when
    every node is a seed (teleport vector = uniform) — the algebraic
    sanity check that the seed restriction is the ONLY difference."""
    from data_engineer_capstone_spark.plans import graph_behavior as gb
    from data_engineer_capstone_spark.plans import get_queries

    monkeypatch.setattr(gb, "PPR_SEED_MOD", 1)
    qs = get_queries()
    ppr = {
        r.node: r.ppr
        for r in qs["q342_personalized_pagerank"](spark, sf_dir).collect()
    }
    pr = {
        r.node: r.pagerank
        for r in qs["q200_pagerank_two_rounds"](spark, sf_dir).collect()
    }
    assert ppr == pr


def test_hll_grouped_registers_merge_to_global(spark, sf_dir):
    """q340's per-group register partials must merge (bucket-wise MAX
    across groups) into exactly q331's global registers — the
    re-aggregation contract that lets per-dimension sketches roll up
    without rescanning."""
    from data_engineer_capstone_spark.functions.text import h64
    from data_engineer_capstone_spark.plans.scale_patterns import (
        HLL_M,
        HLL_RHO_CAP,
    )

    ev = load_table(spark, sf_dir, "events")
    h = h64(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    v = F.expr(f"h div {HLL_M}")
    rho = F.least(
        F.when(v == 0, F.lit(HLL_RHO_CAP)).otherwise(
            F.bit_count(v.bitwiseAND(-v) - F.lit(1)) + F.lit(1)
        ),
        F.lit(HLL_RHO_CAP),
    )
    base = ev.select(
        F.col("event_type").alias("g"), h.alias("h")
    ).select("g", (F.col("h") % HLL_M).alias("bucket"), rho.alias("rho"))
    grouped = base.groupBy("g", "bucket").agg(F.max("rho").alias("reg"))
    merged = {
        r.bucket: r.reg
        for r in grouped.groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
        .collect()
    }
    global_regs = {
        r.bucket: r.reg
        for r in base.groupBy("bucket").agg(F.max("rho").alias("reg")).collect()
    }
    assert merged == global_regs


def test_sql_udf_stays_in_codegen(spark, sf_dir):
    """q387's SQL UDFs must inline into the plan: no Python evaluation
    node (BatchEvalPython/ArrowEvalPython) may appear — the whole point
    of the declarative function surface vs q103's pandas UDF."""
    from data_engineer_capstone_spark.plans.scalars import q387

    df = q387(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    rows = df.collect()
    assert len(rows) > 0
    assert {r["qty_band"] for r in rows} <= {"small", "mid", "bulk"}


def test_distributed_cummax_matches_window(spark, sf_dir):
    """distributed_cummax must equal the partitionless-window prefix max
    it replaces (the q392 watermark primitive), row for row."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.catalog import load_table
    from data_engineer_capstone_spark.functions.refops import distributed_cummax

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("t")
    )
    got = {
        r["event_id"]: r["wm"]
        for r in distributed_cummax(ev, ["event_id"], "t", name="wm").collect()
    }
    w = W.orderBy("event_id").rowsBetween(W.unboundedPreceding, 0)
    want = {
        r["event_id"]: r["wm"]
        for r in ev.withColumn("wm", F.max("t").over(w)).collect()
    }
    assert got == want


def test_distributed_cummax_all_null_partition(spark):
    """An all-null value range partition must not poison the driver-side
    prefix-max fold (ADVICE r4: max(int, None) raised TypeError), and the
    nulls must stay null-transparent like the window twin."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.functions.refops import distributed_cummax

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        # keys 0..99 ordered; values null for the middle half so at least
        # one of the 4 range partitions is entirely null
        df = spark.range(100).select(
            F.col("id").alias("k"),
            F.when((F.col("id") < 25) | (F.col("id") >= 75), F.col("id"))
            .alias("v"),
        )
        got = {
            r["k"]: r["m"]
            for r in distributed_cummax(df, ["k"], "v", name="m").collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, 0)
    want = {
        r["k"]: r["m"]
        for r in df.withColumn("m", F.max("v").over(w)).collect()
    }
    assert got == want


def test_consistent_hashing_only_removed_node_moves(spark, sf_dir):
    """q398's theorem: removing a node moves EXACTLY that node's keys —
    its delta is -keys_before, every survivor's delta is >= 0, and the
    global moved count equals the removed node's prior load."""
    from data_engineer_capstone_spark.plans.scale_patterns import (
        CH_REMOVED,
        q398,
    )

    rows = {r["node"]: r for r in q398(spark, sf_dir).collect()}
    gone = rows[CH_REMOVED]
    assert gone["keys_after"] == 0
    assert gone["delta"] == -gone["keys_before"]
    assert gone["moved"] == gone["keys_before"]
    for node, r in rows.items():
        if node != CH_REMOVED:
            assert r["delta"] >= 0, node


def test_merkle_diff_localizes_exact_mutation_leaves(spark, sf_dir):
    """q376 must report exactly the leaf ranges containing a mutated or
    deleted key — no false positives, no misses."""
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.catalog import load_table
    from data_engineer_capstone_spark.plans.scale_patterns import (
        MERKLE_LEAF_W,
        q376,
    )

    got = {r["leaf"] for r in q376(spark, sf_dir).collect()}
    keys = [
        r["o_orderkey"]
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .collect()
    ]
    want = {
        k // MERKLE_LEAF_W
        for k in keys
        if k % 997 == 0 or k % 991 == 3
    }
    assert got == want


def test_reliable_checkpoint_mode_cc_oracle(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r5 fault-tolerance ask: under SPARK_GRAFT_CHECKPOINT=reliable
    every materialize() call must route through df.checkpoint() against the
    configured dir and the CC-loop query (q108 drives the iterative
    connected_components hops) must still hash-match its DuckDB oracle."""
    from data_engineer_capstone_spark.plans import get_oracles, get_queries
    from tests.oracle import compare

    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    name = "q108_near_dup_clusters"
    res = compare(
        spark, name, get_queries()[name], get_oracles()[name], sf_dir
    )
    assert res["rows_match"] and res["cols_match"] and res["hash_match"], res
    # prove the mode engaged: reliable checkpoints write rdd-N dirs on disk
    rdd_dirs = [p for p in ckpt.rglob("rdd-*") if p.is_dir()]
    assert rdd_dirs, "reliable mode produced no checkpoint files"


def test_reliable_checkpoint_requires_dir(spark, monkeypatch):
    from data_engineer_capstone_spark.materialize import materialize

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "reliable")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CHECKPOINT_DIR"):
        materialize(spark.range(1))


def test_materialize_rejects_unknown_mode(spark, monkeypatch):
    from data_engineer_capstone_spark.materialize import materialize

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "hdfs")
    with pytest.raises(ValueError, match="expected 'local' or 'reliable'"):
        materialize(spark.range(1))


def test_curate_scale_profile_drop_counters(spark, sf_dir):
    """VERDICT r9 ask #5 + ADVICE r10 #2/#3: the SCALE_PROFILE preset caps
    the MinHash band buckets and its drop counter rides curate()'s own
    band-materialization job via observe() — no extra pass, the
    oracle-pinned default path stays uncapped, and curate() does NOT
    mutate shared session conf (the state-store posture is the
    caller's)."""
    from pyspark.sql import Observation

    from data_engineer_capstone_spark.functions.text import detect_language
    from data_engineer_capstone_spark.operators.curation import (
        SCALE_PROFILE,
        curate,
    )

    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(detect_language("text") != F.lit("und"))
        .limit(6)
        .collect()
    )
    assert len(base) == 6
    # 8 near-identical variants per doc: not exact dupes (unique suffix),
    # so they survive exact dedup and collide in MinHash band buckets
    rows, did = [], 0
    for r in base:
        for j in range(8):
            did += 1
            rows.append((did, r["text"] + f" suffix{j}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    prof = dict(SCALE_PROFILE, max_bucket_size=2)
    obs = Observation("curate-drops")
    out = curate(docs, quality_min=0.0, profile=prof, drop_observation=obs)
    assert out.count() > 0
    # the counter resolved off curate's internal band materialization —
    # size-8 buckets over a cap of 2 must have dropped rows
    assert obs.get["dropped_band_rows"] > 0
    # ADVICE r10 #2: curate() must NOT mutate shared session conf — the
    # RocksDB posture in SCALE_PROFILE["state_store_conf"] is the
    # caller's to apply (session build / around the streaming twin), so
    # after a profiled curate() the provider conf is untouched
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        is None
    )
    # the cap can only LOSE candidate pairs (fewer clusters -> more
    # canonical survivors): default survivors ⊆ capped survivors
    default_ids = {
        r["doc_id"]
        for r in curate(docs, quality_min=0.0).select("doc_id").collect()
    }
    capped_ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert default_ids <= capped_ids


def test_curate_drop_observation_requires_profile(spark):
    """ADVICE r10 #3: drop_observation without a capping profile used to
    be silently ignored — a caller reading Observation.get would then
    block forever because the metrics node never attaches to any job.
    Now it raises at the call site."""
    from pyspark.sql import Observation

    from data_engineer_capstone_spark.operators.curation import curate

    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    with pytest.raises(ValueError, match="drop_observation requires"):
        curate(docs, drop_observation=Observation("orphan"))


def test_posting_pairs_skew_split_matches_naive_join(spark):
    """Round-12 q397 hot-key pin (guide §2.5 special-case-the-hot-keys):
    ``_posting_pairs_skew_split`` — naive fp self-join for cold keys,
    triangular chunking for posting lists with df > chunk — must emit
    exactly the naive join's pair multiset, on a crafted posting list
    with one HOT key spanning several chunks (including pairs that cross
    chunk boundaries and duplicate doc-pairs via multiple shared keys)."""
    from pyspark.sql import functions as F

    from data_engineer_capstone_spark.materialize import materialize
    from data_engineer_capstone_spark.plans.extensions import (
        _posting_pairs_skew_split,
    )

    rows = (
        [(d, 777) for d in range(11)]          # hot fp: df=11 > chunk=3
        + [(d, 100) for d in (1, 2, 3)]        # cold fp
        + [(d, 200) for d in (2, 3, 9)]        # cold fp, overlapping docs
        + [(5, 300)]                           # df=1: no pairs
    )
    e = materialize(spark.createDataFrame(rows, "doc_id long, fp long"))
    hist = materialize(e.groupBy("fp").agg(F.count(F.lit(1)).alias("c")))

    def naive(e, n_part):
        e2 = e.repartition(n_part, "fp")
        a = e2.select(F.col("doc_id").alias("doc_a"), "fp")
        b = e2.select(F.col("doc_id").alias("doc_b"), "fp")
        return (
            a.join(b, "fp")
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )

    def counted(df):
        return sorted(
            tuple(r)
            for r in df.groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    split = _posting_pairs_skew_split(e, hist, n_part=4, chunk=3)
    assert counted(split) == counted(naive(e, 4))
    # sanity: the hot fp alone contributes C(11,2)=55 pairs; the crafted
    # overlaps add multi-key doc pairs (counted twice in the multiset)
    assert split.count() == 55 + 3 + 3
