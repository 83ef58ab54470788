"""Scale-pattern behavior tests: bucketed co-located joins (no shuffle),
CSV/JSON source-sink roundtrips, and salted-agg equivalence plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import table
from mapreduce_framework_spark.sources import (
    read_csv,
    read_jsonl,
    write_csv,
    write_jsonl,
)
from mapreduce_framework_spark.storage import write_bucketed, write_partitioned


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Pre-bucketing both join sides on the key (the 100 TB co-location
    pattern) must produce a join plan with NO Exchange — the shuffle happens
    once at write time, then every subsequent join is free."""
    o = table(spark, "orders", sf_dir)
    c = table(spark, "customer", sf_dir)
    # external tables under tmp_path (warehouse dir is a static conf)
    write_bucketed(o, "orders_bkt", str(tmp_path / "orders_bkt"), ["o_custkey"], 8)
    write_bucketed(c, "customer_bkt", str(tmp_path / "customer_bkt"), ["c_custkey"], 8)
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("orders_bkt").join(
            spark.table("customer_bkt"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "simple"
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and it is correct
        assert j.count() == o.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS customer_bkt")


@pytest.mark.parametrize("fmt", ["csv", "jsonl"])
def test_source_sink_roundtrip(spark, sf_dir, tmp_path, fmt):
    """CSV/JSON-lines sinks+sources must be lossless for typed rows
    (incl. timestamps at µs precision)."""
    orig = table(spark, "orders", sf_dir).limit(500)
    path = str(tmp_path / f"orders_{fmt}")
    if fmt == "csv":
        write_csv(orig, path)
        back = read_csv(spark, path, orig.schema)
    else:
        write_jsonl(orig, path)
        back = read_jsonl(spark, path, orig.schema)
    a = sorted(tuple(r) for r in orig.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_partition_pruning_on_date_partitioned_sink(spark, sf_dir, tmp_path):
    """Writing events partitioned by day and querying one day must prune at
    planning time (PartitionFilters), reading only that day's files — the
    bedrock 100 TB layout pattern."""
    ev = table(spark, "events", sf_dir)
    out = str(tmp_path / "events_by_day")
    write_partitioned(
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd")), out, "day"
    )
    back = spark.read.parquet(out)
    one_day = back.where(F.col("day") == "2024-01-05")
    plan = one_day._sc._jvm.PythonSQLUtils.explainString(
        one_day._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert "2024-01-05" in plan.split("PartitionFilters")[1].splitlines()[0]
    # correctness of the pruned read
    expected = ev.where(F.date_format("ts", "yyyy-MM-dd") == "2024-01-05").count()
    assert one_day.count() == expected > 0


def test_q75_margin_headroom(spark, sf_dir, capsys):
    """Pin the q75 sketch-bound margin assumptions with a DIAGNOSABLE
    readout: print actual vs allowed error per group so that if a Spark
    upgrade or regenerated testdata ever flips the q75 booleans, this test
    names the group and the observed headroom (recovery path: widen the
    margin constants next to q75 in operators/relational.py)."""
    from mapreduce_framework_spark.operators.relational import (
        Q75_ACCURACY,
        Q75_P99_MARGIN,
    )

    li = table(spark, "lineitem", sf_dir)
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(f"approx_percentile(l_extendedprice, 0.5, {Q75_ACCURACY})").alias("ap50"),
            F.expr("percentile(l_extendedprice, 0.25)").alias("q1"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.75)").alias("q3"),
            F.expr(f"approx_percentile(l_extendedprice, 0.99, {Q75_ACCURACY})").alias("ap99"),
            F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
        )
        .orderBy("l_returnflag")
        .collect()
    )
    assert rows
    for r in rows:
        p99_err = abs(r.ap99 - r.p99) / r.p99
        iqr = r.q3 - r.q1
        p50_off = abs(r.ap50 - r.p50)
        with capsys.disabled():
            print(
                f"q75[{r.l_returnflag}] p99 err {p99_err:.5f} of allowed "
                f"{Q75_P99_MARGIN} ({p99_err / Q75_P99_MARGIN:.1%} used); "
                f"p50 off-center {p50_off:.1f} within IQR {iqr:.1f} "
                f"({p50_off / iqr:.1%} used)"
            )
        assert r.q1 <= r.ap50 <= r.q3, (
            f"p50_in_iqr would flip for {r.l_returnflag}: {r.ap50} vs [{r.q1}, {r.q3}]"
        )
        assert p99_err <= Q75_P99_MARGIN, (
            f"p99_within margin would flip for {r.l_returnflag}: "
            f"err {p99_err:.5f} > {Q75_P99_MARGIN}"
        )
        # headroom guard: warn-by-failure before the driver gate is at risk
        assert p99_err <= Q75_P99_MARGIN / 2, (
            f"p99 sketch error for {r.l_returnflag} consumed over half the "
            f"margin ({p99_err:.5f} of {Q75_P99_MARGIN}) — widen Q75_P99_MARGIN "
            "per the recovery-path note before the driver hash flips"
        )


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime bloom-filter join pruning — the 100 TB pattern where a
    selective dim-side filter is pushed to the fact scan as a bloom probe
    at runtime, cutting shuffle input without any manual pre-join. The
    size thresholds are lowered to make the tiny test tables eligible;
    broadcast is disabled so the join stays shuffle-based (where the
    runtime filter actually pays)."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.catalog import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, "lineitem", sf_dir)
        orders = table(spark, "orders", sf_dir).where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_extendedprice", "o_orderpriority"
        )
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in plan or "bloom_filter_agg" in plan, plan
        # and it must still compute the right thing
        n_filtered = joined.count()
        n_plain = (
            li.join(
                table(spark, "orders", sf_dir).where(
                    F.col("o_orderpriority") == "1-URGENT"
                ),
                li.l_orderkey == F.col("o_orderkey"),
            ).count()
        )
        assert n_filtered == n_plain > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_hot_span_keep_first_collapses_map_side(spark):
    """Hot-span skew guard (round-6 SCALING.md series, small form): one
    licence-header block repeated 10^4 times across the corpus. The
    keep-first aggregate must (a) stay correct — the hot block survives
    exactly once corpus-wide — and (b) collapse the hot key MAP-SIDE: the
    rows entering the shuffle for the hot bh are bounded by the partition
    count, not its 10^4 instance count. (b) is the property that holds at
    10^9 instances on a 1000-executor cluster, where the row_number()
    window form ships every instance into one unsplittable task."""
    from pyspark.sql import Row

    from mapreduce_framework_spark.pipeline.span_dedup import span_blocks, span_dedup

    header = "hotword " * 100  # 10 identical hot blocks per doc
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=header + f"unique{i}a unique{i}b unique{i}c")
            for i in range(1000)
        ]
    ).repartition(8)
    out = span_dedup(docs)
    # hot block kept exactly once; every doc's unique tail block kept
    inst = span_blocks(docs)
    n_distinct = inst.select("bh").distinct().count()
    assert out.agg(F.sum("n_kept")).collect()[0][0] == n_distinct
    hot_bh = inst.groupBy("bh").count().orderBy(F.col("count").desc()).first()
    assert hot_bh["count"] == 10_000
    # map-side collapse: per-partition distinct rows are what the combine
    # ships — the hot key contributes <= n_partitions rows, not 10^4
    shipped_hot = (
        inst.select(F.spark_partition_id().alias("pid"), "bh")
        .where(F.col("bh") == hot_bh["bh"])
        .distinct()
        .count()
    )
    assert shipped_hot <= 8, shipped_hot


def test_semantic_fixed_k_amplification_invariants(spark, sf_dir):
    """Semantic-dedup amplification guard (round-6 SCALING.md series,
    small form): corpus amplified x3 with exact copies, codebook FIXED.
    (a) the drop list grows exactly linearly — every amplified copy is
    condemned via its base vector's cells, so fixed-K assignment loses no
    exact-duplicate recall; (b) the cell-bounded candidate volume stays
    far under the all-pairs quadratic."""
    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.semantic_dedup import (
        assign_cells,
        semantic_dedup,
        stride_centroids,
    )

    base = table(spark, "embeddings", sf_dir)
    n_base = base.count()
    cents = stride_centroids(base).orderBy("cent_id").limit(16).localCheckpoint(eager=True)
    base_drops = semantic_dedup(base, centroids=cents).count()
    factor, span = 3, 10_000_000
    embs = base
    for i in range(1, factor):
        embs = embs.unionAll(
            base.select(
                (F.col("vec_id") + F.lit(i * span)).alias("vec_id"), "embedding", "label"
            )
        )
    n = n_base * factor
    drops = semantic_dedup(embs, centroids=cents).count()
    assert drops == (factor - 1) * n_base + base_drops
    asg = assign_cells(embs, centroids=cents)
    n_cand = (
        asg.alias("a")
        .join(asg.alias("b"), F.col("a.cent_id") == F.col("b.cent_id"))
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select("a.vec_id", "b.vec_id")
        .distinct()
        .count()
    )
    assert n_cand < 0.35 * n * (n - 1) / 2, (n_cand, n)


def test_semantic_k_prop_n_keeps_candidates_linear(spark, sf_dir):
    """The K ∝ n knob, small form (round-6 SCALING.md `--semantic-kn`
    series): amplify the corpus ×3 and grow the codebook with it. The
    per-vector candidate load must stay ~flat (bounded by a small
    multiple of the ×1 load — i.e. total candidates ~linear in rows, the
    whole point of growing K), while exact-duplicate recall still loses
    nothing: every amplified copy is condemned."""
    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.semantic_dedup import (
        assign_cells,
        semantic_dedup,
        stride_centroids,
    )

    base = table(spark, "embeddings", sf_dir)
    n_base = base.count()
    factor, span = 3, 10_000_000

    def amplified(f):
        embs = base
        for i in range(1, f):
            embs = embs.unionAll(
                base.select(
                    (F.col("vec_id") + F.lit(i * span)).alias("vec_id"),
                    "embedding",
                    "label",
                )
            )
        return embs

    def cand_count(embs, k):
        cents = (
            stride_centroids(embs).orderBy("cent_id").limit(k)
            .localCheckpoint(eager=True)
        )
        asg = assign_cells(embs, centroids=cents)
        n_cand = (
            asg.alias("a")
            .join(asg.alias("b"), F.col("a.cent_id") == F.col("b.cent_id"))
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .select("a.vec_id", "b.vec_id")
            .distinct()
            .count()
        )
        return cents, n_cand

    _, c1 = cand_count(base, 16)
    embs3 = amplified(factor)
    cents3, c3 = cand_count(embs3, 16 * factor)
    # total candidates stay within ~2x linear growth of the x1 load
    # (vs ~factor^2 = 9x for the fixed-K shape on identical data)
    assert c3 <= 2.0 * factor * c1, (c1, c3)
    # and recall on exact copies is intact under the grown codebook
    base_drops = semantic_dedup(base, centroids=cents3).count()
    drops = semantic_dedup(embs3, centroids=cents3).count()
    assert drops >= (factor - 1) * n_base, (drops, n_base)
    assert drops >= base_drops


# Hot-band population bound (round 8): the banded candidate join's skew
# guard against boilerplate clusters (VERDICT r7 item 3).


def _alpha(i: int) -> str:
    """Base-26 two-letter encoding — the corpus tokenizer splits on
    non-letters, so numeric suffixes would collapse every token to one
    word; test vocab must be alphabetic."""
    return chr(97 + (i // 26) % 26) + chr(97 + i % 26)


_BP_TEMPLATE = " ".join(f"w{_alpha(i)}" for i in range(40))


def _boilerplate_cluster(spark, n_cluster=600, n_normal=50):
    """n_cluster near-identical docs (one shared 40-token template, a
    3-way one-token tail variation: same-variant pairs are exact shingle
    duplicates, cross-variant pairs J = 38/40) + n_normal distinct docs.
    The cluster's MinHash signatures agree on nearly every permutation,
    so its docs share band signatures — the adversarial shape that makes
    one (band, bsig) join key carry the whole cluster."""
    from pyspark.sql import Row

    rows = [
        Row(doc_id=i, text=f"{_BP_TEMPLATE} tail{_alpha(i % 3)}")
        for i in range(n_cluster)
    ] + [
        Row(
            doc_id=100_000 + j,
            text=" ".join(f"u{_alpha(j)}{_alpha(i)}" for i in range(12)),
        )
        for j in range(n_normal)
    ]
    return spark.createDataFrame(rows)


def test_band_cap_bounds_hot_band_population(spark):
    """On a boilerplate cluster the uncapped band frame has a (band, bsig)
    key carrying the whole cluster; cap_banded bounds every key at the
    cap, and a capped index still REJECTS a near-dup probe of the cluster
    (the recall argument in pipeline/dedup.py:cap_banded) — what the cap
    trades away is only WHICH cluster member is reported."""
    from mapreduce_framework_spark.pipeline.dedup import (
        JACCARD_THRESHOLD,
        banded_signatures,
        index_signatures,
        match_batch,
    )

    docs = _boilerplate_cluster(spark)
    sigs = index_signatures(docs).localCheckpoint(eager=True)

    plain = banded_signatures(sigs)
    top = (
        plain.groupBy("band", "bsig").count().agg(F.max("count")).collect()[0][0]
    )
    assert top >= 200  # the adversarial key really is hot (cluster-sized)

    cap = 32
    capped = banded_signatures(sigs, band_cap=cap).localCheckpoint(eager=True)
    top_capped = (
        capped.groupBy("band", "bsig").count().agg(F.max("count")).collect()[0][0]
    )
    assert top_capped <= cap

    # a probe that near-duplicates the cluster (fresh tail token: J = 38/40
    # to every cross-variant member, never byte-identical) is still
    # rejected through the capped layout, with a verified jaccard above
    # threshold
    from pyspark.sql import Row

    probe = spark.createDataFrame(
        [Row(doc_id=999_999, text=f"{_BP_TEMPLATE} probez")]
    )
    m = match_batch(
        sigs, probe, JACCARD_THRESHOLD, index_bands=capped
    ).collect()
    assert m and all(r["jaccard"] >= JACCARD_THRESHOLD for r in m)
    assert all(r["jaccard"] < 1.0 for r in m)  # genuinely NEAR-dup, not exact
    # and the retained representatives are the lowest doc_ids, so the
    # match is against a kept cluster member
    assert min(r["id1"] for r in m) < 32 * 16  # within the capped set


def test_band_cap_identity_on_sf_corpus(spark, sf_dir):
    """A production-sized cap never binds on the non-adversarial corpus:
    matches through the capped layout are bit-identical to the exact
    layout (the opt-in approximation costs nothing until a hot band
    actually appears)."""
    from mapreduce_framework_spark.pipeline.dedup import (
        JACCARD_THRESHOLD,
        banded_signatures,
        index_signatures,
        match_batch,
    )

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    cut = docs.agg(((F.max("doc_id") + 1) / 2).cast("long")).collect()[0][0]
    sigs = index_signatures(docs.where(F.col("doc_id") < cut)).localCheckpoint(
        eager=True
    )
    new = docs.where(F.col("doc_id") >= cut)
    exact = {
        (r["id1"], r["id2"], r["jaccard"])
        for r in match_batch(
            sigs, new, JACCARD_THRESHOLD, index_bands=banded_signatures(sigs)
        ).collect()
    }
    capped = {
        (r["id1"], r["id2"], r["jaccard"])
        for r in match_batch(
            sigs,
            new,
            JACCARD_THRESHOLD,
            index_bands=banded_signatures(sigs, band_cap=512),
        ).collect()
    }
    assert capped == exact


def test_band_cap_reapplied_at_compaction(spark, tmp_path):
    """The streaming wiring: with band_cap set, every bands-root
    compaction re-bounds the ACCUMULATED band groups (per-delta caps
    cannot — each delta only sees its own batch), so the steady-state
    candidate join's key population stays <= cap + tail contribution."""
    from mapreduce_framework_spark.pipeline.dedup import JACCARD_THRESHOLD
    from mapreduce_framework_spark.storage import read_index_manifest
    from mapreduce_framework_spark.storage import index_so_far
    from mapreduce_framework_spark.streaming.ingest import make_ingest_batch_fn

    docs = _boilerplate_cluster(spark, n_cluster=300, n_normal=10)
    # batch 0 admits its whole cluster slice in one delta (within-batch
    # self-dedup is out of sink scope), planting a ~75-row hot band; the
    # threshold above the cross-variant similarity (38/40) but at the
    # exact-duplicate bound keeps later same-variant copies rejected, so
    # the hot band comes from the admitted delta and compaction must
    # re-bound it
    batches = [docs.where(F.col("doc_id") % 4 == i) for i in range(4)]
    bands_root = str(tmp_path / "bands")
    fn = make_ingest_batch_fn(
        spark,
        str(tmp_path / "idx"),
        str(tmp_path / "dec"),
        threshold=0.999,
        compact_every=2,
        bands_root=bands_root,
        band_cap=16,
    )
    for i, b in enumerate(batches):
        fn(b, i)
    man = read_index_manifest(bands_root)
    assert man["compacted_path"] is not None  # compaction actually ran
    # the COMPACTED portion respects the cap; the uncompacted tail adds at
    # most its own batches on top
    compacted = spark.read.parquet(
        str(tmp_path / "bands" / man["compacted_path"])
    )
    top = compacted.groupBy("band", "bsig").count().agg(F.max("count")).collect()[0][0]
    assert top <= 16
    full = index_so_far(spark, bands_root)
    tail_batches = len(man["deltas"])
    top_full = full.groupBy("band", "bsig").count().agg(F.max("count")).collect()[0][0]
    # bounded by cap + what the bounded tail can add (each tail delta is
    # one batch of the cluster, ~75 docs)
    assert top_full <= 16 + tail_batches * 100


# Hot-cell population bound (round 8): the semantic twin of the band cap.


def test_cell_cap_bounds_hot_cell(spark):
    """An identical-embedding cluster saturates one cell regardless of the
    codebook; cap_cells bounds it, and — identical vectors having
    identical cosines to any probe — the capped match is LOSSLESS for the
    cluster: same rejected set, same cosine, matched_id falls to a
    retained (lower) vec_id."""
    from pyspark.sql import Row

    from mapreduce_framework_spark.pipeline.semantic_dedup import (
        cap_cells,
        semantic_index,
        semantic_match_batch,
    )

    cents = spark.createDataFrame(
        [
            Row(cent_id=i, cent=[float(x) for x in v])
            for i, v in enumerate([[1, 0, 0], [0, 1, 0], [0, 0, 1], [1, 1, 1]])
        ]
    )
    cluster = spark.range(600).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(4.0), F.lit(0.0), F.lit(0.0)).alias("embedding"),
    )
    normals = spark.createDataFrame(
        [
            Row(vec_id=100_000 + j, embedding=[float(j % 5), float(j % 7), 1.0])
            for j in range(50)
        ]
    )
    idx = semantic_index(cluster.unionByName(normals), cents).localCheckpoint(
        eager=True
    )
    top = idx.groupBy("cent_id").count().agg(F.max("count")).collect()[0][0]
    assert top >= 600  # the cluster really saturates a cell

    capped = cap_cells(idx, 32).localCheckpoint(eager=True)
    top_c = capped.groupBy("cent_id").count().agg(F.max("count")).collect()[0][0]
    assert top_c <= 32

    probe = spark.createDataFrame(
        [Row(vec_id=999_999, embedding=[4.0, 0.1, 0.0])]
    )
    plain = semantic_match_batch(idx, probe, cents, 0.96).collect()
    cap = semantic_match_batch(capped, probe, cents, 0.96).collect()
    assert plain and cap
    # the admission-relevant invariants (cap_cells docstring): same
    # rejected set, capped matches a subset of plain, best match (the
    # one the sink reports) preserved exactly
    assert {r["new_id"] for r in plain} == {r["new_id"] for r in cap}
    p_pairs = {(r["index_id"], r["new_id"], round(r["cos"], 12)) for r in plain}
    c_pairs = {(r["index_id"], r["new_id"], round(r["cos"], 12)) for r in cap}
    assert c_pairs <= p_pairs
    assert max(r["cos"] for r in cap) == max(r["cos"] for r in plain)
    assert min(r["index_id"] for r in cap) < 32  # a retained representative
    # the documented collateral actually occurred in this fixture (a
    # non-cluster co-resident of the saturated cell lost its pairing) —
    # the guard test exercises the caveat, not just the happy path
    assert c_pairs < p_pairs


def test_cell_cap_identity_on_sf_corpus(spark, sf_dir):
    """A production-sized cap never binds on the non-adversarial corpus:
    semantic matches through the capped artifact are bit-identical."""
    from mapreduce_framework_spark.pipeline.codebook import fit_codebook
    from mapreduce_framework_spark.pipeline.semantic_dedup import (
        cap_cells,
        semantic_index,
        semantic_match_batch,
    )

    embs = table(spark, "embeddings", sf_dir)
    cut = embs.agg(((F.max("vec_id") + 1) / 2).cast("long")).collect()[0][0]
    cents = fit_codebook(
        embs.where(F.col("vec_id") < cut), k=8, iters=2
    ).localCheckpoint(eager=True)
    idx = semantic_index(embs.where(F.col("vec_id") < cut), cents).localCheckpoint(
        eager=True
    )
    batch = embs.where(F.col("vec_id") >= cut)
    plain = {
        (r["index_id"], r["new_id"], r["cos"])
        for r in semantic_match_batch(idx, batch, cents).collect()
    }
    capped = {
        (r["index_id"], r["new_id"], r["cos"])
        for r in semantic_match_batch(cap_cells(idx, 512), batch, cents).collect()
    }
    assert capped == plain


# Hot-fingerprint population bound (round 9): the EXACT tier's hot-key
# guard — the last dedup family to get one (VERDICT r8 missing item 1).


def test_fp_distinct_is_decision_lossless(spark, sf_dir):
    """Unlike the band/cell caps (recall-argued), the distinct-fp index is
    DECISION-LOSSLESS by construction: a batch doc matches the distinct
    index iff it matches the full one (same fp set), and the admission
    rule's min(id1) is exactly the retained row. Checked on the sf corpus,
    which contains real duplicate texts."""
    from mapreduce_framework_spark.pipeline.dedup import (
        exact_fingerprint_index,
        exact_match_batch,
    )

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    cut = docs.agg(((F.max("doc_id") + 1) / 2).cast("long")).collect()[0][0]
    index_docs = docs.where(F.col("doc_id") < cut)
    # corpus-derived re-fetches (the q103 plant) guarantee the match path
    # is exercised at every SF
    batch = docs.where(F.col("doc_id") >= cut).unionByName(
        index_docs.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
    )
    full = exact_fingerprint_index(index_docs).localCheckpoint(eager=True)
    dist = exact_fingerprint_index(index_docs, distinct=True).localCheckpoint(
        eager=True
    )
    # the guard itself: one row per fp, the min doc_id
    assert dist.count() == dist.select("fp").distinct().count()
    assert dist.count() == full.select("fp").distinct().count()
    kept = {r["fp"]: r["doc_id"] for r in dist.collect()}
    mins = {
        r["fp"]: r["m"]
        for r in full.groupBy("fp").agg(F.min("doc_id").alias("m")).collect()
    }
    assert kept == mins
    # (whether the corpus half carries intra-half duplicates is SF-dependent;
    # the adversarial exercise of the guard is the synthetic cluster test
    # below)

    def decisions(idx):
        return {
            (r["id2"], r["m"])
            for r in exact_match_batch(idx, batch)
            .groupBy("id2")
            .agg(F.min("id1").alias("m"))
            .collect()
        }

    d_full = decisions(full)
    assert d_full == decisions(dist)
    assert d_full  # real exact matches exist across the split


def test_fp_distinct_bounds_hot_fp_cluster(spark):
    """The adversarial shape itself: a 20k-copy byte-identical cluster is
    ONE fp key with 20k index rows — the |batch|x|cluster| single-key
    blowup. The distinct index bounds every fp key at 1 row while every
    probe is still rejected against the same (min) representative."""
    from mapreduce_framework_spark.pipeline.dedup import (
        exact_fingerprint_index,
        exact_match_batch,
    )

    cluster = spark.range(20_000).select(
        F.col("id").alias("doc_id"), F.lit("the same boilerplate page").alias("text")
    )
    normals = spark.range(50).select(
        (F.col("id") + 100_000).alias("doc_id"),
        F.concat(F.lit("unique doc "), F.col("id").cast("string")).alias("text"),
    )
    idx_docs = cluster.unionByName(normals)
    full = exact_fingerprint_index(idx_docs).localCheckpoint(eager=True)
    dist = exact_fingerprint_index(idx_docs, distinct=True).localCheckpoint(
        eager=True
    )
    hot_full = full.groupBy("fp").count().agg(F.max("count")).collect()[0][0]
    hot_dist = dist.groupBy("fp").count().agg(F.max("count")).collect()[0][0]
    assert hot_full == 20_000 and hot_dist == 1
    probes = spark.range(500).select(
        (F.col("id") + 500_000).alias("doc_id"),
        F.lit("the same boilerplate page").alias("text"),
    )
    got = {
        (r["id2"], r["m"])
        for r in exact_match_batch(dist, probes)
        .groupBy("id2")
        .agg(F.min("id1").alias("m"))
        .collect()
    }
    # every probe rejected, every matched_id the cluster's min doc_id —
    # and the join shipped 500 pairs, not 500 x 20000
    assert got == {(500_000 + i, 0) for i in range(500)}
    assert exact_match_batch(dist, probes).count() == 500
    assert exact_match_batch(full, probes).count() == 500 * 20_000
