"""Incremental corpus ingest with cross-snapshot dedup (foreachBatch).

The end-to-end form of the q91 building blocks: a stream of document
batches is admitted into a growing corpus index — each micro-batch is
near-dup-matched against the index-so-far (``match_batch``: cross-side
LSH band join + estimate prune + exact verify), rejected docs are
reported with their best match, and admitted docs' signatures are
appended to the index.

100 TB shape:
- The index lives as parquet **delta directories** (``delta_v{batch}``):
  each batch appends only its admitted docs' signatures — per-batch write
  is O(admitted batch), never an O(index) rewrite.
- The root is addressed through a **manifest** (storage.py: one JSON file,
  atomic-rename commit per batch — the reference's task-output commit
  discipline, src/mr/worker.go:68-75). No directory listing on the read
  path, so the layout is object-storage-safe; a gap or missing dir is a
  hard error, never a silent partial read.
- Every ``compact_every`` batches the delta tail is **folded** into one
  compacted dir (shuffle-free coalesce), so the steady-state per-batch
  index read opens 1 compacted dir + a bounded tail instead of
  O(batches) dirs — at 1e5 micro-batches the unmanaged layout's read is
  dominated by file listing + a 1e5-path parquet open (measured series in
  SCALING.md). Decisions are byte-identical with compaction on or off.
- Per-batch match cost is O(batch) — the index side contributes only
  column-pruned projections of stored signatures (see
  pipeline/dedup.py:match_batch).
- Within-batch self-dedup is deliberately out of scope here (it is q31's
  job, run upstream); this operator owns the batch-vs-corpus decision,
  exactly like q91.
- The DECISIONS log shares the exact same lifecycle: per-batch
  ``delta_v{batch}`` dirs under ``decisions_root``, manifest-addressed,
  compacted on the same cadence — reading the log back after 1e5
  batches opens 1 compacted dir + a bounded tail, not 1e5 dirs, and
  redelivery replaces (never duplicates) the batch's decisions.

The reference has no streaming surface (batch-only, hard map→reduce
barrier, src/mr/coordinator.go:143-155); this is [EXT] (SURVEY §7 M5).

ONE ADMISSION CORE, FOUR FRONTS. ``_admission_core`` runs an ordered
tier pipeline over every micro-batch — quality → exact → intra-batch
exact → media_dup → near_dup → semantic → contaminated — where a tier
runs only when its root, frame or flag is configured, each tier sees
only the docs every earlier tier let through, and the first tier that
hits names the decision's matched_id, score and tier. The core also
owns the decisions projection, the one materialization of the admitted
docs, and the per-root publish chains (delta → config stamp → drift
log). The four public sinks are thin fronts that switch tiers on and
fix the on-disk decisions schema:

- ``make_ingest_batch_fn`` — MinHash only:
  ``(doc_id, admitted, matched_id, jaccard)``;
- ``make_semantic_ingest_batch_fn`` — semantic only, over
  ``(vec_id, embedding)`` batches: ``(vec_id, admitted, matched_id, cos)``;
- ``make_cascade_ingest_batch_fn`` — every embeddings-free tier:
  ``(doc_id, admitted, matched_id, jaccard, tier)``;
- ``make_full_cascade_ingest_batch_fn`` — every tier, registered
  end-to-end as q104: ``(doc_id, admitted, matched_id, score, tier)``.
  Its docstring documents every tier and parameter once.

Each ``run_*_ingest_stream`` drives its front through foreachBatch
under an availableNow trigger and reads the decisions log back. The
MinHash tier can maintain the PERSISTED BANDED LAYOUT
(pipeline/dedup.py:banded_signatures) on the same delta/manifest
lifecycle, cutting the per-batch candidate scan ~5.8× (SCALING.md); the
semantic tier stamps and checks the codebook fingerprint, and
``reindex_semantic_root`` is the codebook-refresh swap.

Round-8 lifecycle hardening (all measured/argued in SCALING.md):
- WRITER FENCING: every sink acquires its roots at construction
  (storage.acquire_index_root) and presents the epoch token on every
  publish — two streams on one root, or a zombie retry of a replaced
  driver, hard-error with nothing committed.
- DRIFT TRIGGER: semantic sinks log each batch's quantization error
  under the held codebook into the index manifest; ``needs_refit``
  reads the trend and ``refresh_semantic_root_if_needed`` is the
  between-batches measure→decide→act autopilot for the refresh.
- HOT-BAND CAP: ``band_cap`` re-bounds the persisted banded layout's
  (band, bsig) groups at every compaction (pipeline/dedup.py:cap_banded
  has the recall argument), so a boilerplate cluster cannot serialize
  the candidate join through one hot key.
- ``admission_report`` is the per-tier ops rollup over any decisions
  root.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.storage import (
    acquire_index_root,
    compact_index_manifest,
    covered_batches,
    delta_dir,  # noqa: F401  (re-exported: callers resolve deltas from here)
    index_so_far,
    manifest_visible_paths,
    prune_superseded_index_dirs,
    publish_delta,
    read_index_manifest,
    require_manifest_field,
    stamp_manifest_field,
    update_index_manifest,
)
from mapreduce_framework_spark.streaming.foreach_batch import run_available_now

# Fold the delta tail into the compacted artifact once it reaches this many
# dirs: steady-state per-batch index reads touch 1 compacted dir + a tail of
# at most compact_every deltas instead of O(batches) dirs (at 1e5
# micro-batches the unmanaged layout's per-batch cost is dominated by
# listing + a 1e5-path parquet read). 64 amortizes the O(index) rewrite to
# 1/64 of batches while keeping the tail read small.
DEFAULT_COMPACT_EVERY = 64


def _check_bands_coverage(
    sig_root: str, bands_root: str, before_batch: int | None
) -> None:
    """A band index that covers FEWER batches than its signature index
    would silently drop every candidate from the missing batches' docs —
    false negatives, the worst dedup failure. Enabling ``bands_root``
    mid-stream (or losing one of its deltas) must therefore be a hard
    error before any match runs. Coverage = the set of batch ids each
    manifest commits (compacted range ∪ tail)."""
    cs = covered_batches(sig_root, before_batch)
    cb = covered_batches(bands_root, before_batch)
    if cs != cb:
        raise ValueError(
            f"band index at {bands_root} covers batches {sorted(cb)} but the "
            f"signature index at {sig_root} covers {sorted(cs)} — enable "
            "bands_root from the root's first batch (or backfill it with "
            "banded_signatures over the existing index) before matching"
        )


# --- codebook-drift trigger (round 8) ----------------------------------------
#
# The refresh lifecycle (refit_codebook → reindex_semantic_root → new sink)
# had machinery but no TRIGGER: nothing measured WHEN the codebook had
# drifted enough to be worth an O(index) reindex. Every semantic sink now
# logs a cheap per-batch drift statistic — the batch's quantization error
# under the held codebook (mean 1−cos to the nearest centroid, ONE extra
# broadcast assignment pass over the batch, the same O(batch·K) shape the
# tier's matcher already pays) — into the semantic index manifest, and
# needs_refit() reads the trend against a BASELINE. The baseline is (round
# 9 ADVICE — a single first batch is a bad anchor: an atypically
# centroid-hugging one causes perpetual refit pressure, an already-drifted
# one masks all later drift):
#   * the MEDIAN of the first DRIFT_BASELINE_K logged batches under the
#     codebook (stamped once, when the K-th entry lands; until then
#     drift_stats is None and needs_refit conservatively False — warmup);
#   * after a refresh, the FIT-TIME quantization error of the reindexed
#     corpus under the new codebook, which reindex_semantic_root computes
#     during its (already O(index)) rewrite and stamps directly — the
#     ideal anchor, unbiased by whatever happens to stream first.
# A trailing-window mean above threshold × baseline says the stale book
# has degraded to where the SCALING.md refit series shows the refresh pays
# for itself. The log is bounded (last DRIFT_WINDOW_MAX entries) so the
# manifest read stays O(1) at 1e5 batches.

DRIFT_WINDOW_MAX = 256  # manifest keeps at most this many drift entries
DRIFT_BASELINE_K = 4  # baseline = median of the first K logged batches


def _batch_quantization_error(batch_embs: DataFrame, centroids: DataFrame) -> float | None:
    """Mean 1−cos of the batch's (nonzero-norm) vectors to their nearest
    centroid; None when the batch carries no scorable vector (no signal,
    nothing logged)."""
    from mapreduce_framework_spark.pipeline.similarity import (
        _nearest_cells,
        _norms_spark,
        prepare_centroids,
    )

    e = _norms_spark(batch_embs)
    cents = prepare_centroids(centroids, op="_batch_quantization_error")
    best = _nearest_cells(e, cents, id_col="vec_id", k=1)
    (row,) = best.agg(F.avg(F.lit(1.0) - F.col("ccos")).alias("err")).collect()
    return None if row["err"] is None else float(row["err"])


def _log_drift(
    index_root: str, batch_id: int, qerr: float | None, epoch: int | None = None
) -> None:
    """Append ``[batch_id, qerr]`` to the manifest's drift log (replacing
    a redelivered batch's entry — idempotent). Once DRIFT_BASELINE_K
    entries exist the baseline is stamped as the MEDIAN of the earliest K
    (stamped exactly once per codebook; redelivery before the stamp just
    replaces its entry, redelivery after it leaves the stamp fixed — the
    baseline must not drift with the stream it anchors). A refresh swap
    overrides this with the fit-time error (reindex_semantic_root).
    Trimmed to the last DRIFT_WINDOW_MAX entries."""
    import statistics

    if qerr is None:
        return

    def log(man):
        drift = [e for e in man.get("drift", []) if e[0] != batch_id]
        man = {**man, "drift": sorted(drift + [[batch_id, qerr]])[-DRIFT_WINDOW_MAX:]}
        if man.get("drift_baseline") is None and len(man["drift"]) >= DRIFT_BASELINE_K:
            man["drift_baseline"] = statistics.median(
                q for _, q in man["drift"][:DRIFT_BASELINE_K]
            )
        return man

    update_index_manifest(index_root, log, epoch)


def drift_stats(index_root: str, window: int = 8) -> dict | None:
    """The drift trend a refresh policy reads: ``{"baseline", "recent",
    "ratio", "n"}`` over the trailing ``window`` logged batches, or None
    when the root has no drift log yet OR the baseline is still warming
    up (fewer than DRIFT_BASELINE_K batches logged under a codebook that
    was never refresh-stamped)."""
    man = read_index_manifest(index_root)
    if man is None or man.get("drift_baseline") is None or not man.get("drift"):
        return None
    tail = man["drift"][-window:]
    recent = sum(q for _, q in tail) / len(tail)
    base = man["drift_baseline"]
    return {
        "baseline": base,
        "recent": recent,
        "ratio": (recent / base) if base > 0 else float("inf"),
        "n": len(tail),
    }


def needs_refit(
    index_root: str, threshold: float = 1.25, window: int = 8
) -> bool:
    """True when the trailing-window mean batch quantization error has
    risen above ``threshold`` × the codebook's baseline — the cue to run
    refit_codebook → reindex_semantic_root. Conservative on cold roots:
    no log (or a zero baseline with zero recent) → False."""
    s = drift_stats(index_root, window)
    if s is None:
        return False
    if s["baseline"] == 0.0:
        # a perfectly-quantized baseline: any positive recent error is an
        # infinite ratio
        return s["recent"] > 0.0
    return s["ratio"] > threshold


def refresh_semantic_root_if_needed(
    spark: SparkSession,
    index_root: str,
    centroids: DataFrame,
    next_batch: int,
    threshold: float = 1.25,
    window: int = 8,
    iters: int | None = None,
    sample_fraction: float | None = None,
) -> DataFrame | None:
    """The between-batches REFRESH AUTOPILOT — measure → decide → act in
    one call: if the manifest's drift trend says the held codebook has
    gone stale (:func:`needs_refit`), refit it warm-started on the
    index's own committed vectors (`refit_codebook`: K and cent_id
    continuity preserved) and swap the index under the refreshed book
    (`reindex_semantic_root`: one atomic manifest commit, drift log
    reset). Returns the refreshed centroids — the caller constructs the
    next sink with them — or None when no refresh was warranted (the
    overwhelmingly common case; cost then is one manifest read).

    Run it where reindex_semantic_root is legal: BETWEEN batches, e.g.
    at stream restart or from a maintenance tick while the stream is
    stopped. The fit corpus is the admitted population itself (every
    committed index row carries its embedding), optionally hash-sampled
    via ``sample_fraction`` — the bounded-fit practice for 100 TB
    (codebook.py module docstring). Cost when it fires: one warm-start
    Lloyd fit + one O(index) reindex — exactly the refresh the
    SCALING.md round-7 drift series prices, now paid only when the
    measured trend says it buys match quality back."""
    from mapreduce_framework_spark.pipeline.codebook import (
        FIT_ITERS,
        refit_codebook,
    )

    if not needs_refit(index_root, threshold=threshold, window=window):
        return None
    idx = index_so_far(spark, index_root)
    if idx is None:
        return None
    embs = idx.select("vec_id", "embedding").dropDuplicates(["vec_id"])
    refreshed = refit_codebook(
        embs,
        centroids,
        iters=FIT_ITERS if iters is None else iters,
        sample_fraction=sample_fraction,
    ).localCheckpoint(eager=True)
    reindex_semantic_root(spark, index_root, refreshed, next_batch)
    return refreshed


def reindex_semantic_root(
    spark: SparkSession,
    index_root: str,
    centroids: DataFrame,
    next_batch: int,
    target_files: int = 8,
) -> None:
    """Swap a streaming semantic index under a REFRESHED codebook
    (pipeline/codebook.py:refit_codebook) — the between-batches step of
    the codebook-refresh lifecycle. Every committed index row's
    ``(vec_id, embedding)`` is re-assigned through ``semantic_index``
    under the new centroids and folded into ONE compacted dir; the
    manifest is then republished with ``compacted_through = next_batch-1``,
    an empty delta tail, and ``codebook_id`` = the new fingerprint — one
    atomic commit, so a crash before the publish leaves the old manifest
    authoritative and the new dir an overwritable orphan (the compaction
    discipline of ``compact_index_manifest``). Must run BETWEEN batches:
    a manifest already committing ``next_batch`` or later is a hard
    error, because the in-flight batch would have matched under the old
    codebook. The caller hands the SAME centroids frame to the next
    sink; its pre-batch codebook check enforces the pairing from then on.
    Cost: one O(index) rewrite per refresh — the same amortized shape as
    compaction, paid only when the codebook actually drifts (SCALING.md
    ANN-drift series quantifies when that is worth it)."""
    from mapreduce_framework_spark.pipeline.codebook import codebook_fingerprint
    from mapreduce_framework_spark.pipeline.semantic_dedup import semantic_index

    man = read_index_manifest(index_root)
    if man is None:
        raise ValueError(
            f"no index manifest under {index_root} — nothing to reindex "
            "(seed the index through the sink first)"
        )
    committed = [e[0] for e in man["deltas"]]
    latest = max([man["compacted_through"], *committed])
    if latest >= next_batch:
        raise ValueError(
            f"reindex_semantic_root(next_batch={next_batch}) but the manifest "
            f"already commits batch {latest} — the reindex must run between "
            "batches, after the last commit and before the next delivery"
        )
    out = compact_index_manifest(
        spark, index_root, man, below_batch=next_batch, target_files=target_files,
        transform=lambda folded: semantic_index(
            folded.select("vec_id", "embedding").dropDuplicates(["vec_id"]),
            centroids,
        ),
    )
    # the drift log is only meaningful under ONE codebook: the swap resets
    # it and stamps the FIT-TIME quantization error of the reindexed
    # corpus under the new book as the baseline (one extra aggregate over
    # the rows this rewrite just wrote — the unbiased anchor the round-9
    # ADVICE asked for, immune to an unrepresentative first post-swap
    # batch)
    out = {k: v for k, v in out.items() if k not in ("drift", "drift_baseline")}
    out["codebook_id"] = codebook_fingerprint(centroids)
    if out["compacted_path"] != man["compacted_path"]:  # anything was folded
        (fit_dir,) = manifest_visible_paths(index_root, out)
        fit_err = _batch_quantization_error(
            spark.read.parquet(fit_dir)
            .select("vec_id", "embedding")
            .dropDuplicates(["vec_id"]),
            centroids,
        )
        if fit_err is not None:
            out["drift_baseline"] = fit_err
    # the swap FENCES any still-running sink (epoch bump): a zombie batch
    # that passed its codebook check before the swap would otherwise
    # commit rows assigned under the OLD codebook into the swapped index —
    # the one window the per-batch fingerprint guard cannot close. The
    # next sink acquires the root afresh (with the new centroids) as the
    # lifecycle prescribes. The swap replaces the manifest wholesale,
    # committed CONDITIONALLY on the epoch this reindex read (commit
    # seam), so two concurrent reindexes cannot both claim the same
    # successor epoch.
    prev = int(man.get("epoch", 0))
    out["epoch"] = prev + 1
    update_index_manifest(index_root, lambda _: out, epoch=prev)
    prune_superseded_index_dirs(index_root, out)


def _run_publish_chains(*chains) -> None:
    """Run independent per-root publish chains CONCURRENTLY, one pool
    thread per live chain (Spark actions are only sequential because
    driver code calls them sequentially; each publish is a small write
    job whose fixed cost a sequential form pays N times end-to-end).

    Each chain is a callable (or None to skip) that touches exactly ONE
    index root. Cross-root publish ORDER was never a correctness edge: a
    crash between any subset of a batch's publishes just redelivers the
    batch, and every manifest re-commit replaces rather than duplicates
    (the storage.publish_delta contract). Orderings that DO carry an invariant
    stay inside one chain: delta → config stamp → drift log share a
    root's manifest (never written from two threads), and signatures →
    bands preserves _check_bands_coverage's bands ⊆ sigs coverage rule.
    Fencing holds per chain: every chain's publish re-checks the epoch
    before its write and the manifest commit enforces it, so a fenced
    writer fails on every chain without committing anything.

    All chains are awaited; the first failure re-raises after the rest
    settle."""
    from concurrent.futures import ThreadPoolExecutor

    live = [c for c in chains if c is not None]
    with ThreadPoolExecutor(max_workers=max(1, len(live))) as pool:
        futures = [pool.submit(c) for c in live]
    for ex in [f.exception() for f in futures]:
        if ex is not None:
            raise ex


def _intra_batch_exact_best(docs: DataFrame) -> DataFrame:
    """(doc_id, ib_id) for every batch doc that byte-duplicates a LOWER
    doc_id in the same (index-surviving) batch slice; ib_id is the lowest
    such copy — the batch REPRESENTATIVE, which proceeds to the later
    tiers and is usually (not always) admitted and indexed: when a later
    tier rejects the representative itself, its copies' matched_id still
    names it, and the representative's own decision row carries the real
    provenance (see make_full_cascade_ingest_batch_fn's intra_batch_exact
    note). Shape: one narrow min-aggregate + fp equi-join over the batch
    (no window, no index involvement — strictly O(batch))."""
    fps = docs.select(
        "doc_id", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp")
    )
    best = fps.groupBy("fp").agg(F.min("doc_id").alias("ib_id"))
    return (
        fps.join(best, "fp")
        .where(F.col("doc_id") > F.col("ib_id"))
        .select("doc_id", "ib_id")
    )


def _col_or_lit(value):
    return F.col(value) if isinstance(value, str) else F.lit(value)


class _Tier(NamedTuple):
    """One admission check of the core's pipeline.

    ``match(batch_id, live)`` returns the best-match frame of the live
    docs this tier rejects — the batch key plus the tier's ``matched``
    and/or ``score`` columns — or None when the tier has no index yet.
    ``matched`` names the matched-id column (None: the reject has no
    corpus counterpart and reports -1); the tier hits a row exactly where
    ``matched`` (else ``score``) is non-NULL. ``score`` is a column name
    or a constant. ``index(batch_id, batch, admitted)`` returns the
    tier's per-root publish chain; ``check()`` runs before the batch is
    read (the config stamps that must fail before anything publishes)."""

    name: str
    matched: str | None
    score: str | float
    match: Callable[[int, DataFrame], DataFrame | None]
    index: Callable[[int, DataFrame, DataFrame], Callable[[], None]] | None = None
    check: Callable[[], None] | None = None


def _admission_core(
    spark: SparkSession,
    decisions_root: str,
    compact_every: int | None,
    *,
    key: str = "doc_id",
    score_col: str = "score",
    tiered: bool = True,
    quality_gate: bool = False,
    fp_index_root: str | None = None,
    fp_distinct: bool = True,
    intra_batch_exact: bool = False,
    phash_index_root: str | None = None,
    phash_band_cap: int | None = None,
    phash_cells: int | None = None,
    phash_bands: int | None = None,
    sig_index_root: str | None = None,
    threshold: float | None = None,
    shingler=None,
    sig_bands_root: str | None = None,
    band_cap: int | None = None,
    sem_index_root: str | None = None,
    centroids: DataFrame | None = None,
    cos_threshold: float | None = None,
    cell_cap: int | None = None,
    benchmark_span_index: DataFrame | None = None,
    cont_threshold: float = 0.05,
):
    """The one admission sink behind the four public fronts: a
    foreachBatch function that runs the ordered tier pipeline quality →
    exact → intra-batch exact → media_dup → near_dup → semantic →
    contaminated over each batch. A tier runs only when its root, frame
    or flag is passed; each sees only the docs every earlier tier let
    through (tier precedence is strict), and the first tier that hits
    names the decision's matched_id, score and tier. Parameters are
    documented on make_full_cascade_ingest_batch_fn; the front-only ones:

    ``key`` — the batch's id column (``vec_id`` for the semantic front's
    ``(vec_id, embedding)`` batches, else ``doc_id``, whose batches carry
    ``text`` and, for the semantic tier, ``embedding``). ``score_col`` /
    ``tiered`` — the decisions schema ``(key, admitted, matched_id,
    score_col[, tier])``; a score is 0.0 and a matched_id -1 for admitted
    rows.

    Per batch: config checks, one read of the source (localCheckpoint),
    one materialized best-match frame per tier that has something to
    match, one materialization of the admitted docs when more than one
    index root is built from them, then the decisions delta and each
    index root's delta (with its config stamp and drift log) as
    concurrent per-root publish chains (_run_publish_chains). Every root
    is acquired at construction (writer fencing, storage.py) — after the
    argument checks, so a rejected configuration fences nobody."""
    from pyspark.sql.window import Window

    for name, value, root, root_name in (
        ("band_cap", band_cap, sig_bands_root, "its bands_root / sig_bands_root"),
        ("phash_band_cap", phash_band_cap, phash_index_root, "phash_index_root"),
        ("phash_cells", phash_cells, phash_index_root, "phash_index_root"),
        ("phash_bands", phash_bands, phash_index_root, "phash_index_root"),
    ):
        if value is not None and root is None:
            raise ValueError(
                f"{name} requires {root_name} — without it the setting would be "
                "silently ignored"
            )
    for name, cap in (("band_cap", band_cap), ("cell_cap", cell_cap)):
        if cap is not None and compact_every is None:
            raise ValueError(
                f"{name} is applied at compaction, but compact_every=None means "
                "compaction never runs — the index would stay uncapped. Set "
                f"compact_every (the cap re-applies every fold) or drop {name}."
            )
    if phash_index_root is not None:
        from mapreduce_framework_spark.pipeline.multimodal_dedup import phash_params

        # the sink holds exactly one grid config for its life (fail-fast on a
        # bad pair)
        phash_cells, phash_bands = phash_params(phash_cells, phash_bands)

    def publish(root, epoch, batch_id, df, transform=None):
        publish_delta(
            spark, root, batch_id, df, compact_every, epoch=epoch,
            compact_transform=transform,
        )

    def best_of(matches, part, score, index_id, matched, scored):
        # the highest-scoring match per batch row, ties to the lowest index id
        w = Window.partitionBy(part).orderBy(F.col(score).desc(), F.col(index_id).asc())
        return (
            matches.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                F.col(part).alias(key),
                F.col(index_id).alias(matched),
                F.col(score).alias(scored),
            )
        )

    tiers: list[_Tier] = []
    if quality_gate:
        from mapreduce_framework_spark.pipeline.quality import quality_rejects

        tiers.append(_Tier("quality", None, "ql_frac", lambda b, live: (
            quality_rejects(live).select(key, F.col("q_frac").alias("ql_frac"))
        )))

    if fp_index_root is not None:
        from mapreduce_framework_spark.pipeline.dedup import (
            cap_fingerprints,
            exact_fingerprint_index,
            exact_match_batch,
        )

        ep_fp = acquire_index_root(fp_index_root)

        def _exact(batch_id, live):
            idx = index_so_far(spark, fp_index_root, before_batch=batch_id)
            if idx is None:
                return None
            return (
                exact_match_batch(idx, live)
                .groupBy("id2")
                .agg(F.min("id1").alias("ex_id"))
                .select(F.col("id2").alias(key), "ex_id")
            )

        def _fp_chain(batch_id, batch, admitted):
            delta = exact_fingerprint_index(admitted, distinct=fp_distinct)
            return lambda: publish(
                fp_index_root, ep_fp, batch_id, delta,
                cap_fingerprints if fp_distinct else None,
            )

        tiers.append(_Tier("exact", "ex_id", 1.0, _exact, _fp_chain))

    if intra_batch_exact:
        tiers.append(_Tier(
            "exact", "ib_id", 1.0, lambda b, live: _intra_batch_exact_best(live)
        ))

    if phash_index_root is not None:
        from mapreduce_framework_spark.pipeline.multimodal_dedup import (
            phash_fingerprint,
            phash_index,
            phash_match_batch,
        )

        ph_fp = phash_fingerprint(phash_cells, phash_bands)
        ep_ph = acquire_index_root(phash_index_root)

        def _media(batch_id, live):
            idx = index_so_far(spark, phash_index_root, before_batch=batch_id)
            if idx is None:
                return None
            return phash_match_batch(
                idx, live.select(key, "text"), band_cap=phash_band_cap,
                cells=phash_cells, bands=phash_bands,
            ).select(
                key,
                F.col("matched_id").alias("ph_id"),
                ((F.lit(phash_cells) - F.col("hamming")) / F.lit(float(phash_cells)))
                .alias("ph_sim"),
            )

        def _ph_chain(batch_id, batch, admitted):
            delta = phash_index(admitted.select(key, "text"), cells=phash_cells)

            def chain():
                publish(phash_index_root, ep_ph, batch_id, delta)
                stamp_manifest_field(phash_index_root, "phash_config", ph_fp, ep_ph)

            return chain

        # hashes are only comparable under one grid: a 32-cell index probed
        # by a 64-cell sink silently matches NOTHING (round-12 ADVICE)
        tiers.append(_Tier(
            "media_dup", "ph_id", "ph_sim", _media, _ph_chain,
            lambda: require_manifest_field(
                phash_index_root, "phash_config", ph_fp, "phash index",
                "perceptual hashes are only comparable under ONE (cells, bands, "
                "threshold) configuration; rebuild the index (phash_index over "
                "the corpus) at the new width, or run the sink at the index's width",
            ),
        ))

    if sig_index_root is not None:
        from mapreduce_framework_spark.pipeline.dedup import (
            banded_signatures,
            cap_banded,
            index_signatures,
            match_batch,
        )

        ep_sig = acquire_index_root(sig_index_root)
        ep_bands = (
            None if sig_bands_root is None else acquire_index_root(sig_bands_root)
        )
        bands_cap = None if band_cap is None else (lambda df: cap_banded(df, band_cap))

        def _near(batch_id, live):
            idx = index_so_far(spark, sig_index_root, before_batch=batch_id)
            if idx is None:
                return None
            bands = None
            if sig_bands_root is not None:
                _check_bands_coverage(
                    sig_index_root, sig_bands_root, before_batch=batch_id
                )
                bands = index_so_far(spark, sig_bands_root, before_batch=batch_id)
            matches = match_batch(idx, live, threshold, shingler, index_bands=bands)
            return best_of(matches, "id2", "jaccard", "id1", "nd_id", "nd_jaccard")

        def _sig_chain(batch_id, batch, admitted):
            sig_delta = index_signatures(admitted, shingler)
            if sig_bands_root is not None:
                # one materialization feeds both publishes (the band rows are
                # a projection of the signature delta, not a recompute)
                sig_delta = sig_delta.localCheckpoint(eager=True)

            def chain():
                publish(sig_index_root, ep_sig, batch_id, sig_delta)
                if sig_bands_root is not None:
                    publish(
                        sig_bands_root, ep_bands, batch_id,
                        banded_signatures(sig_delta), bands_cap,
                    )

            return chain

        tiers.append(_Tier("near_dup", "nd_id", "nd_jaccard", _near, _sig_chain))

    if sem_index_root is not None:
        from mapreduce_framework_spark.pipeline.codebook import codebook_fingerprint
        from mapreduce_framework_spark.pipeline.semantic_dedup import (
            SEMDEDUP_COS,
            cap_cells,
            semantic_index,
            semantic_match_batch,
        )

        cb_fp = codebook_fingerprint(centroids)
        cos_t = SEMDEDUP_COS if cos_threshold is None else cos_threshold
        ep_sem = acquire_index_root(sem_index_root)
        cells_cap = None if cell_cap is None else (lambda df: cap_cells(df, cell_cap))

        def vectors(docs):
            # the semantic tier's (vec_id, embedding) view: a doc-keyed batch's
            # NULL embeddings are invisible to it (zero-norm ones are excluded
            # downstream by _norms_spark)
            if key == "vec_id":
                return docs
            return docs.where(F.col("embedding").isNotNull()).select(
                F.col(key).alias("vec_id"), "embedding"
            )

        def _semantic(batch_id, live):
            idx = index_so_far(spark, sem_index_root, before_batch=batch_id)
            if idx is None:
                return None
            matches = semantic_match_batch(idx, vectors(live), centroids, cos_t)
            return best_of(matches, "new_id", "cos", "index_id", "sm_id", "sm_cos")

        def _sem_chain(batch_id, batch, admitted):
            def chain():
                publish(
                    sem_index_root, ep_sem, batch_id,
                    semantic_index(vectors(admitted), centroids), cells_cap,
                )
                stamp_manifest_field(sem_index_root, "codebook_id", cb_fp, ep_sem)
                # drift trigger: the WHOLE batch's quantization error under the
                # held codebook (rejects carry drift signal too)
                qerr = _batch_quantization_error(vectors(batch), centroids)
                _log_drift(sem_index_root, batch_id, qerr, epoch=ep_sem)

            return chain

        # cell assignments are only comparable under one codebook: a refreshed
        # codebook paired with a stale index silently mis-matches every batch
        tiers.append(_Tier(
            "semantic", "sm_id", "sm_cos", _semantic, _sem_chain,
            lambda: require_manifest_field(
                sem_index_root, "codebook_id", cb_fp, "semantic index",
                "cell assignments are only comparable under ONE codebook; after "
                "a refresh run reindex_semantic_root and hand the SAME centroids "
                "frame to the sink",
            ),
        ))

    if benchmark_span_index is not None:
        from mapreduce_framework_spark.pipeline.span_dedup import span_contamination

        tiers.append(_Tier("contaminated", None, "ct_frac", lambda b, live: (
            span_contamination(benchmark_span_index, live.select(key, "text"))
            .where(F.col("cont_frac") >= cont_threshold)
            .select(key, F.col("cont_frac").alias("ct_frac"))
        )))

    ep_dec = acquire_index_root(decisions_root)
    indexed = [t for t in tiers if t.index is not None]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        for t in tiers:
            if t.check is not None:
                t.check()
        batch = batch_df.localCheckpoint(eager=True)  # read the source once
        live, hits = batch, []
        for t in tiers:
            best = t.match(batch_id, live)
            if best is not None:
                best = best.localCheckpoint(eager=True)
                live = live.join(best, key, "left_anti")
                hits.append((t, best))

        decisions = batch.select(key)
        for _, best in hits:
            decisions = decisions.join(best, key, "left")
        admitted = F.lit(True)
        matched, score, tier = F.lit(-1), F.lit(0.0), F.lit(None).cast("string")
        for t, _ in reversed(hits):  # the first tier that hit names the decision
            hit = F.col(t.matched or t.score).isNotNull()
            admitted = ~hit & admitted
            matched = F.when(hit, _col_or_lit(t.matched or -1)).otherwise(matched)
            score = F.when(hit, _col_or_lit(t.score)).otherwise(score)
            tier = F.when(hit, F.lit(t.name)).otherwise(tier)
        cols = [
            admitted.alias("admitted"),
            matched.cast("long").alias("matched_id"),
            score.alias(score_col),
        ]
        if tiered:
            cols.append(tier.alias("tier"))
        decisions = decisions.select(key, *cols)

        if len(indexed) > 1:
            # every index delta reads `admitted`: run its anti-join chain once
            live = live.localCheckpoint(eager=True)
        _run_publish_chains(
            lambda: publish(decisions_root, ep_dec, batch_id, decisions),
            *[t.index(batch_id, batch, live) for t in indexed],
        )

    return apply_batch


def _run_ingest_stream(
    stream: DataFrame,
    spark: SparkSession,
    decisions_root: str,
    checkpoint: str,
    timeout_s: int,
    apply_batch,
    what: str,
) -> DataFrame:
    """Drive ``stream`` through one sink front with foreachBatch under an
    availableNow trigger and return the decisions log read back from
    ``decisions_root`` (the union of every batch's decisions)."""
    run_available_now(stream, apply_batch, checkpoint, timeout_s, what)
    decisions = index_so_far(spark, decisions_root)
    if decisions is None:
        raise ValueError(
            f"stream processed no batches — no decisions under {decisions_root}"
        )
    return decisions


def make_ingest_batch_fn(
    spark: SparkSession,
    index_root: str,
    decisions_root: str,
    threshold: float,
    shingler=None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
    bands_root: str | None = None,
    band_cap: int | None = None,
):
    """The single-tier MinHash front: match each ``(doc_id, text)`` batch
    against the signature index so far (``index_root``; ``bands_root`` is
    its persisted banded layout) and write decisions ``(doc_id, admitted,
    matched_id, jaccard)``. Parameters as on
    make_full_cascade_ingest_batch_fn (``index_root`` = sig_index_root,
    ``bands_root`` = sig_bands_root)."""
    return _admission_core(
        spark, decisions_root, compact_every, score_col="jaccard", tiered=False,
        sig_index_root=index_root, threshold=threshold, shingler=shingler,
        sig_bands_root=bands_root, band_cap=band_cap,
    )


def run_ingest_stream(
    docs_stream: DataFrame,
    spark: SparkSession,
    index_root: str,
    decisions_root: str,
    checkpoint: str,
    threshold: float,
    timeout_s: int = 300,
    shingler=None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
    bands_root: str | None = None,
    band_cap: int | None = None,
) -> DataFrame:
    """Drive the document stream through :func:`make_ingest_batch_fn`;
    returns the union of all per-batch decision frames."""
    fn = make_ingest_batch_fn(
        spark, index_root, decisions_root, threshold, shingler, compact_every,
        bands_root, band_cap,
    )
    return _run_ingest_stream(
        docs_stream, spark, decisions_root, checkpoint, timeout_s, fn, "ingest"
    )


def make_semantic_ingest_batch_fn(
    spark: SparkSession,
    index_root: str,
    decisions_root: str,
    centroids: DataFrame,
    threshold: float | None = None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
    cell_cap: int | None = None,
):
    """The single-tier semantic front: match each ``(vec_id, embedding)``
    batch against the semantic cell index so far (``index_root``) and
    write decisions ``(vec_id, admitted, matched_id, cos)``. Parameters as
    on make_full_cascade_ingest_batch_fn (``index_root`` = sem_index_root,
    ``threshold`` = cos_threshold). A ZERO-NORM vector has no cosine
    neighborhood: it is admitted but never indexed, so later copies of it
    are not rejected against it."""
    return _admission_core(
        spark, decisions_root, compact_every, key="vec_id", score_col="cos",
        tiered=False, sem_index_root=index_root, centroids=centroids,
        cos_threshold=threshold, cell_cap=cell_cap,
    )


def run_semantic_ingest_stream(
    embs_stream: DataFrame,
    spark: SparkSession,
    index_root: str,
    decisions_root: str,
    checkpoint: str,
    centroids: DataFrame,
    threshold: float | None = None,
    timeout_s: int = 300,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
    cell_cap: int | None = None,
) -> DataFrame:
    """Drive the embedding stream through
    :func:`make_semantic_ingest_batch_fn`; returns the union of all
    per-batch decision frames."""
    fn = make_semantic_ingest_batch_fn(
        spark, index_root, decisions_root, centroids, threshold, compact_every,
        cell_cap,
    )
    return _run_ingest_stream(
        embs_stream, spark, decisions_root, checkpoint, timeout_s, fn,
        "semantic ingest",
    )


def make_cascade_ingest_batch_fn(
    spark: SparkSession,
    fp_index_root: str,
    sig_index_root: str,
    decisions_root: str,
    threshold: float,
    shingler=None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
    sig_bands_root: str | None = None,
    band_cap: int | None = None,
    fp_distinct: bool = True,
    intra_batch_exact: bool = False,
    benchmark_span_index: DataFrame | None = None,
    cont_threshold: float = 0.05,
    quality_gate: bool = False,
    phash_index_root: str | None = None,
    phash_band_cap: int | None = None,
    phash_cells: int | None = None,
    phash_bands: int | None = None,
):
    """The embeddings-free cascade front: every tier of
    make_full_cascade_ingest_batch_fn except the semantic one, over
    ``(doc_id, text)`` batches, with decisions ``(doc_id, admitted,
    matched_id, jaccard, tier)`` — ``jaccard`` is the tier-typed score
    (the full cascade's ``score``). Parameters as documented there.

    Decision parity with the single-tier MinHash front: identical
    ``admitted`` sets for docs with at least SHINGLE_K tokens (pinned by
    tests/test_streaming.py::test_cascade_ingest_decisions). Degenerate
    docs diverge BY DESIGN: a shingle-free doc (< SHINGLE_K tokens, incl.
    NULL/empty text) is invisible to MinHash but byte-collapses in the
    exact tier. ``matched_id`` may differ from the single tier's when an
    exact copy ALSO jaccard-ties with a lower-id non-identical index doc
    (the cascade never consults the near-dup tier for exact rejects)."""
    return _admission_core(
        spark, decisions_root, compact_every, score_col="jaccard",
        quality_gate=quality_gate, fp_index_root=fp_index_root,
        fp_distinct=fp_distinct, intra_batch_exact=intra_batch_exact,
        phash_index_root=phash_index_root, phash_band_cap=phash_band_cap,
        phash_cells=phash_cells, phash_bands=phash_bands,
        sig_index_root=sig_index_root, threshold=threshold, shingler=shingler,
        sig_bands_root=sig_bands_root, band_cap=band_cap,
        benchmark_span_index=benchmark_span_index, cont_threshold=cont_threshold,
    )


def run_cascade_ingest_stream(
    docs_stream: DataFrame,
    spark: SparkSession,
    fp_index_root: str,
    sig_index_root: str,
    decisions_root: str,
    checkpoint: str,
    threshold: float,
    timeout_s: int = 300,
    shingler=None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
    sig_bands_root: str | None = None,
    band_cap: int | None = None,
    fp_distinct: bool = True,
    intra_batch_exact: bool = False,
    benchmark_span_index: DataFrame | None = None,
    cont_threshold: float = 0.05,
    quality_gate: bool = False,
    phash_index_root: str | None = None,
    phash_band_cap: int | None = None,
    phash_cells: int | None = None,
    phash_bands: int | None = None,
) -> DataFrame:
    """Drive the document stream through
    :func:`make_cascade_ingest_batch_fn`; returns the union of all
    per-batch decision frames."""
    fn = make_cascade_ingest_batch_fn(
        spark, fp_index_root, sig_index_root, decisions_root, threshold,
        shingler, compact_every, sig_bands_root, band_cap, fp_distinct,
        intra_batch_exact, benchmark_span_index, cont_threshold, quality_gate,
        phash_index_root, phash_band_cap, phash_cells, phash_bands,
    )
    return _run_ingest_stream(
        docs_stream, spark, decisions_root, checkpoint, timeout_s, fn,
        "cascade ingest",
    )


def make_full_cascade_ingest_batch_fn(
    spark: SparkSession,
    fp_index_root: str,
    sig_index_root: str,
    sem_index_root: str,
    decisions_root: str,
    centroids: DataFrame,
    threshold: float,
    cos_threshold: float | None = None,
    shingler=None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
    sig_bands_root: str | None = None,
    band_cap: int | None = None,
    cell_cap: int | None = None,
    fp_distinct: bool = True,
    intra_batch_exact: bool = False,
    benchmark_span_index: DataFrame | None = None,
    cont_threshold: float = 0.05,
    quality_gate: bool = False,
    phash_index_root: str | None = None,
    phash_band_cap: int | None = None,
    phash_cells: int | None = None,
    phash_bands: int | None = None,
):
    """The complete admission cascade (registered end-to-end as q104):
    quality → exact → intra-batch exact → media_dup → near_dup → semantic
    → contaminated over ``(doc_id, text, embedding)`` batches, each doc
    paying the cheapest test that can reject it. Decisions
    ``(doc_id, admitted, matched_id, score, tier)``: ``tier`` names the
    first tier that rejected the doc (NULL = admitted) and ``score`` is
    tier-typed — 1.0 for exact, the verified Jaccard for near_dup, the
    exact cosine for semantic, (cells − hamming)/cells for media_dup,
    dup_frac for quality, cont_frac for contaminated, 0.0 for admitted.
    ``matched_id`` is the matched index doc, or -1 for admitted, quality
    and contaminated rows (those rejects have no corpus counterpart).
    Tier precedence is strict: a rejected doc never consults a later
    tier, and no rejected doc is indexed by any tier.

    Every index root is manifest-addressed (storage.py) on the q91
    lifecycle: each batch publishes a ``delta_v{batch}`` of its admitted
    docs, a batch matches only against deltas STRICTLY BEFORE it, so a
    crash between any of the publishes just redelivers the batch and
    every manifest re-commit replaces rather than duplicates (pinned by
    tests/test_streaming.py::test_ingest_batch_redelivery_is_idempotent).
    Constructing the sink ACQUIRES every root it writes (writer fencing,
    storage.py): a later sink over the same roots fences this one — its
    next publish hard-errors with nothing committed.

    Parameters (each front takes the subset its tiers need):

    - ``fp_index_root`` — the exact tier: md5-fingerprint equi-join
      (pipeline/dedup.py:exact_match_batch); ``matched_id`` is the
      smallest byte-identical index doc. ``fp_distinct`` (default True,
      decision-lossless by the min(id1) rule — pipeline/dedup.py:
      cap_fingerprints) keeps one min-doc_id row per fingerprint in every
      delta and compaction, so a boilerplate cluster cannot pile rows
      behind one join key.
    - ``sig_index_root`` / ``threshold`` / ``shingler`` — the MinHash
      near_dup tier (pipeline/dedup.py:match_batch); ``matched_id`` is the
      highest-Jaccard index doc, ties to the lowest id. ``shingler`` is
      the shingle builder shared by index and match (default word
      shingles; ``char_shingles_of`` + ``CHAR_JACCARD_THRESHOLD`` for the
      character-8-gram tier).
    - ``sig_bands_root`` — the PERSISTED BANDED LAYOUT of the signature
      index (pipeline/dedup.py:banded_signatures) on the same lifecycle:
      matching joins the narrow band table instead of re-deriving bands
      per batch (~5.8× less per-batch index scan, SCALING.md). Decisions
      are byte-identical either way; a bands root whose coverage diverges
      from the signature root is a hard error before any match runs.
      ``band_cap`` (requires ``sig_bands_root``): every compaction of the
      bands root re-bounds each (band, bsig) group to its cap lowest-doc_id
      rows (pipeline/dedup.py:cap_banded has the recall argument).
    - ``sem_index_root`` / ``centroids`` / ``cos_threshold`` (default
      SEMDEDUP_COS) — the semantic tier (pipeline/semantic_dedup.py:
      semantic_match_batch) for paraphrases that share no shingles.
      ``centroids`` is the FIXED fitted codebook every batch shares; the
      index manifest records its fingerprint and every batch checks it
      BEFORE publishing anything (a stale index after refit_codebook is a
      hard error — run reindex_semantic_root). Each batch also logs its
      quantization error under the codebook into the manifest
      (needs_refit / refresh_semantic_root_if_needed read the trend). A
      NULL or zero-norm embedding has no cosine neighborhood: the doc is
      never semantic-rejected nor semantic-indexed and stays subject to
      every other tier. ``cell_cap``: every compaction re-bounds each cell
      to its cap lowest-vec_id rows (pipeline/semantic_dedup.py:cap_cells).
    - ``phash_index_root`` — the MULTIMODAL media_dup tier
      (pipeline/multimodal_dedup.py:phash_match_batch): a re-encoded or
      retouched copy of an indexed doc (small Hamming distance between
      perceptual hashes; shared bytes not required) is rejected against
      the lowest matching index doc. NULL and zero-length payloads have no
      phash: invisible to this tier, subject to every other one.
      ``phash_cells``/``phash_bands`` select the grid width per root
      (multimodal_dedup.phash_params; default 32/4 — a 100 TB deployment
      passes phash_cells=64, SCALING.md); the manifest's phash_config
      stamp hard-fails a mixed-width pairing before any publish, even at
      batch 0. ``phash_band_cap`` bounds hot bands via cap_banded at match
      time: every reported match is real, but under adversarial
      saturation matched_id can shift to a retained member (pinned by
      tests/test_multimodal_dedup_props.py). The three phash settings
      require ``phash_index_root``.
    - ``quality_gate`` — the per-doc QUALITY tier
      (pipeline/quality.py:quality_rejects), run FIRST: it needs no index
      and keeps junk out of every index.
    - ``intra_batch_exact`` (default False; within-batch dedup is
      otherwise upstream's job) — among batch docs whose fingerprint is
      new to the corpus, every copy but the lowest doc_id (the batch
      REPRESENTATIVE) is rejected with tier 'exact' and matched_id = the
      representative. The representative may itself be rejected by a
      later tier, so this matched_id is not necessarily an indexed doc.
    - ``benchmark_span_index`` / ``cont_threshold`` — the
      DECONTAMINATION tier, run LAST over full survivors: a doc whose
      contaminated-token fraction against the persisted benchmark
      ``span_dedup.span_index`` reaches ``cont_threshold`` is rejected
      (tier 'contaminated'). Admission rejects rather than trims.
    - ``compact_every`` — fold each root's delta tail into one compacted
      dir once it reaches this many entries (None = never; decisions are
      byte-identical either way). The caps apply at compaction, so a cap
      with ``compact_every=None`` is a hard error."""
    return _admission_core(
        spark, decisions_root, compact_every,
        quality_gate=quality_gate, fp_index_root=fp_index_root,
        fp_distinct=fp_distinct, intra_batch_exact=intra_batch_exact,
        phash_index_root=phash_index_root, phash_band_cap=phash_band_cap,
        phash_cells=phash_cells, phash_bands=phash_bands,
        sig_index_root=sig_index_root, threshold=threshold, shingler=shingler,
        sig_bands_root=sig_bands_root, band_cap=band_cap,
        sem_index_root=sem_index_root, centroids=centroids,
        cos_threshold=cos_threshold, cell_cap=cell_cap,
        benchmark_span_index=benchmark_span_index, cont_threshold=cont_threshold,
    )


def run_full_cascade_ingest_stream(
    docs_stream: DataFrame,
    spark: SparkSession,
    fp_index_root: str,
    sig_index_root: str,
    sem_index_root: str,
    decisions_root: str,
    checkpoint: str,
    centroids: DataFrame,
    threshold: float,
    cos_threshold: float | None = None,
    timeout_s: int = 300,
    shingler=None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
    sig_bands_root: str | None = None,
    band_cap: int | None = None,
    cell_cap: int | None = None,
    fp_distinct: bool = True,
    intra_batch_exact: bool = False,
    benchmark_span_index: DataFrame | None = None,
    cont_threshold: float = 0.05,
    quality_gate: bool = False,
    phash_index_root: str | None = None,
    phash_band_cap: int | None = None,
    phash_cells: int | None = None,
    phash_bands: int | None = None,
) -> DataFrame:
    """Drive a ``(doc_id, text, embedding)`` stream through
    :func:`make_full_cascade_ingest_batch_fn`; returns the union of all
    per-batch decision frames."""
    fn = make_full_cascade_ingest_batch_fn(
        spark, fp_index_root, sig_index_root, sem_index_root, decisions_root,
        centroids, threshold, cos_threshold, shingler, compact_every,
        sig_bands_root, band_cap, cell_cap, fp_distinct, intra_batch_exact,
        benchmark_span_index, cont_threshold, quality_gate, phash_index_root,
        phash_band_cap, phash_cells, phash_bands,
    )
    return _run_ingest_stream(
        docs_stream, spark, decisions_root, checkpoint, timeout_s, fn,
        "full-cascade ingest",
    )


def admission_report_frame(decisions: DataFrame) -> DataFrame:
    """Per-tier rollup of an admission decisions log — the daily ops view
    a 100 TB ingest reads instead of the raw log: one row per outcome
    ('admitted', 'exact', 'near_dup', 'semantic', and — when the opt-in
    tiers are on — 'contaminated' and 'quality') with document count,
    share of the log, and the score distribution (min/avg/max of the
    tier's metric — Jaccard for the lexical tiers, cosine for the
    semantic tier, as the decisions schema defines). Works on every
    sink's schema: the cascade logs carry ``tier`` and ``score``; the
    single-tier logs carry no tier (rejected rows report their family
    metric, ``jaccard``/``cos``), so rejected rows roll up under
    'rejected'.

    Scale shape: aggregation-only — one partial-agg shuffle keyed by the
    (≤5-value) tier column over a column-pruned scan of the log, then a
    single-partition window over the ≤4 grouped rows for the shares.
    No joins, no Python. Plan gate:
    tests/test_streaming.py::test_admission_report_plan.

    FP determinism (the q15 discipline — this IS a registered query,
    q106, so avg must be bit-identical across engines): the mean is an
    exact DECIMAL(38,9) sum divided once as a double and re-rounded to
    DECIMAL(18,9) — no double-reduction-order dependence; min/max/share
    are order-free. Scale 9 keeps the int128 sum exactly
    double-representable to ~9e6 log rows per outcome (far above any
    correctness-gate SF) while resolving far below any tier threshold
    gap."""
    score = next(
        (c for c in ("score", "jaccard", "cos") if c in decisions.columns), None
    )
    if score is None:
        raise ValueError(
            "admission_report: decisions log carries no score column "
            "(expected one of score/jaccard/cos)"
        )
    if "tier" in decisions.columns:
        outcome = F.coalesce(F.col("tier"), F.lit("admitted"))
    else:
        outcome = F.when(F.col("admitted"), F.lit("admitted")).otherwise(
            F.lit("rejected")
        )
    per = (
        decisions.select(outcome.alias("outcome"), F.col(score).alias("s"))
        .groupBy("outcome")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("s").alias("min_score"),
            F.sum(F.col("s").cast("decimal(38,9)")).alias("_ssum"),
            F.max("s").alias("max_score"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.lit(1))
    return per.select(
        "outcome",
        "n_docs",
        (F.col("n_docs") / F.sum("n_docs").over(w)).alias("share"),
        "min_score",
        (F.col("_ssum").cast("double") / F.col("n_docs"))
        .cast("decimal(18,9)")
        .cast("double")
        .alias("avg_score"),
        "max_score",
    ).orderBy("outcome")


def admission_report(spark: SparkSession, decisions_root: str) -> DataFrame:
    """:func:`admission_report_frame` over a manifest-addressed decisions
    root (compacted + bounded-tail read, the same path every sink's
    decisions log is read back through)."""
    dec = index_so_far(spark, decisions_root)
    if dec is None:
        raise ValueError(f"no decisions committed under {decisions_root}")
    return admission_report_frame(dec)
