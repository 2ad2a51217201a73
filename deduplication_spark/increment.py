"""Batch-incremental dedup: assign a NEW batch of documents against an
EXISTING deduplicated index without re-clustering the corpus.

The production loop for an append-only crawl: a full `pipeline.dedup`
run establishes the base clustering once; each subsequent crawl
increment runs `dedup_increment`, which touches only

  O(|new|)            enrichment (hash + MinHash) of the new batch, and
  O(|new| x bands)    band-bucket joins against the index —

never the base corpus's text (except to exact-verify the borderline
sliver, when `base_docs` is supplied). This is the batch generalization
of the reference's insert-if-absent dictionary probe
(/root/reference/src/dictionary.c:61-78): probe the existing dictionary
first, extend it only with genuinely-new entries.

The index has MEMBER granularity — one row per base document:
(member_id, cluster_id, content_hash, minhash, simhash), ~1 KB/row,
no text.
Per-cluster (canonical-only) indexing is NOT sufficient: a new doc's
exact twin or >=0.8-Jaccard neighbor is often a non-canonical member
whose own hash/signature must be probe-able (cluster membership is
transitive — the member may sit far from its canonical). Member rows
are what the reference dictionary stores too: every distinct block,
not one per run.

Increment tiers: exact (hash join vs index + window-min within new) and
MinHash-LSH (band join over index ∪ new memberships, capped, estimate-
screened, exact-Jaccard verified when `base_docs` is supplied). The
SimHash and substring tiers are full-run-only by design: their recall
overlaps MinHash-LSH almost entirely and a periodic full re-run picks
up the residual long-span duplicates.

ID contract: new doc_ids must all be GREATER than every base member id
(natural for append-only crawls; validated with one tiny aggregation).
Connected components elects the min id per component, so a component
touching an existing cluster keeps that cluster's id — assignments are
STABLE across increments. A new doc bridging two existing clusters
merges them; the merge is reported explicitly in
`IncrementResult.merges`, never applied silently.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import DedupConfig
from .functions.hashing import make_enrich_udf
from .operators.candidates import bucket_pairs
from .operators.components import connected_components
from .operators.exact import with_content_key
from .operators.minhash_lsh import band_key_buckets, minhash_near_edges

INDEX_COLS = (
    "member_id",
    "cluster_id",
    "content_hash",
    "minhash",
    "simhash",
    "band_keys",  # optional precomputed LSH keys (index_from_enriched)
)


def _sig_fingerprint(cfg: DedupConfig) -> str:
    """Fingerprint of the config fields that determine signature bytes.
    Two configs with equal fingerprints produce bit-equal minhash
    signatures; anything else makes index and increment signatures
    incomparable (zip_with over mismatched lengths null-pads — LSH
    recall silently collapses to ~0)."""
    return (
        f"perm={cfg.num_perm};seed={cfg.hash_seed};k={cfg.shingle_k};"
        f"bands={cfg.bands};rows={cfg.rows_per_band};ckey=sha256/16"
    )


def pin_sig_config(index: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Attach the signature-config fingerprint as minhash column
    metadata (survives parquet round trips; `dedup_increment` validates
    it before probing). ONE helper for every index-persisting surface —
    the streaming increment's version writer and the batch CLI's
    updated-index write — so the pin format cannot drift between them.

    An EXISTING pin is validated, never overwritten (round-4 advice):
    stamping cfg's fingerprint over an index pinned with a different
    config would persist a FORGED pin — a later restart would read it
    back, pass the guard, and let LSH recall collapse silently, the
    exact failure the pin exists to catch. Raise BEFORE anything is
    persisted instead."""
    fp = _sig_fingerprint(cfg)
    existing = index.schema["minhash"].metadata.get("sig_cfg")
    if existing is not None and existing != fp:
        from .io import ConfigMismatch

        raise ConfigMismatch(
            f"index is pinned to signature config [{existing}] but the "
            f"current config fingerprints as [{fp}]; refusing to persist "
            "a re-stamped index"
        )
    return index.select(
        *[
            F.col(c).alias("minhash", metadata={"sig_cfg": fp})
            if c == "minhash"
            else F.col(c)
            for c in index.columns
        ]
    )


@dataclass
class IncrementResult:
    assignments: DataFrame  # new batch: (doc_id, cluster_id, is_canonical)
    merges: DataFrame       # (old_cluster_id, merged_into) — base clusters
                            # bridged by a new doc; empty most increments
    index: DataFrame        # updated member-level index incl. the new batch.
                            # LAZY: when threading it through a LONG chain of
                            # increments, cut lineage every batch (write+read
                            # parquet — what streaming/increment_stream.py
                            # does — or localCheckpoint), else the logical
                            # plan deepens per batch (join + union each)
    metrics: dict = field(default_factory=dict)


def _enrich(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str,
    text_col: str,
    include_simhash: bool = False,
) -> DataFrame:
    """(doc_id, content_hash, minhash[, simhash]) — same fused
    single-Arrow-pass kernel as the full pipeline, so increment
    signatures are bit-equal to full-run signatures at the same
    config. The simhash column (one extra bigint out of the SAME UDF
    pass — zero additional Arrow round trips) is emitted only when the
    simhash increment tier needs it."""
    enr = make_enrich_udf(cfg.num_perm, cfg.hash_seed, cfg.shingle_k)
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    mh, sh = F.col("_e.minhash"), F.col("_e.simhash")
    if cfg.min_doc_tokens > cfg.shingle_k:
        # same codegen gate as pipeline.build_enriched: the
        # "shorter docs -> exact tier only" contract is enforced at
        # min_doc_tokens on both paths so signatures stay bit-equal
        from .functions.text import token_count

        gate = token_count(F.col("text")) >= cfg.min_doc_tokens
        mh, sh = F.when(gate, mh), F.when(gate, sh)
    cols = ["doc_id", "content_hash", mh.alias("minhash")]
    if include_simhash:
        cols.append(sh.alias("simhash"))
    return (
        with_content_key(base)
        .withColumn("_e", enr(F.col("text")))
        .select(*cols)
    )


def build_index(
    docs: DataFrame,
    assignments: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Member-level increment index from a full run's output: one row
    per base doc — (member_id, cluster_id, content_hash, minhash).

    This RECOMPUTES the enrichment UDF pass over the base corpus (the
    dominant cost — measured 157 s for 120k docs at local[32], more
    than the increment itself). When the base run's enriched stage is
    at hand — `DedupResult.enriched`, or the `enriched` snapshot of a
    `run_dir` StageStore — use `index_from_enriched` instead: a join,
    zero UDF passes. The simhash column is included (8 bytes/row, ~1%
    index width) so the optional simhash increment tier can probe it."""
    return index_from_enriched(
        _enrich(docs, cfg, id_col, text_col, include_simhash=True),
        assignments,
        cfg=cfg,
    )


def index_from_enriched(
    enriched: DataFrame,
    assignments: DataFrame,
    cfg: DedupConfig | None = None,
) -> DataFrame:
    """Zero-recompute index build from a full run's enriched stage
    ((doc_id, content_hash, minhash, ...) — e.g. `DedupResult.enriched`
    or `StageStore.read("enriched")`) + its assignments.

    When `cfg` is given, the signature config fingerprint is pinned as
    column metadata on `minhash` (it survives a parquet round trip), so
    `dedup_increment` can fail fast on a config mismatch — the DDP1
    header check applied to the increment index.

    When `enriched` carries a `simhash` column (the full pipeline's
    enriched stage does), it is carried into the index (8 bytes/row)
    so `dedup_increment(tiers=(..., "simhash"))` can probe it; an
    index built without it simply cannot serve the simhash tier.

    When `cfg` is given the index also gains `band_keys` — the
    precomputed LSH band keys (array<long>[bands], ~260 bytes/row —
    r06, guide §2.3/§6): the probe's dominant per-increment cost was
    re-deriving every member's band keys from the ~1 KB minhash column
    (full-column read + bands x |index| interpreted slice+hash evals,
    EVERY increment). Stored once at build time, the probe reads only
    this 4x-narrower column and explodes. NULL signature -> NULL keys
    (short docs never enter the LSH tier, as before). The sig_cfg pin
    already covers every parameter band keys derive from, so a config
    drift still fails fast before a stale band_keys column could be
    probed."""
    from .functions.hashing import band_key_col

    minhash_col = (
        F.col("minhash").alias(
            "minhash", metadata={"sig_cfg": _sig_fingerprint(cfg)}
        )
        if cfg is not None
        else F.col("minhash")
    )
    has_sim = "simhash" in enriched.columns
    sig_cols = ["doc_id", "content_hash", "minhash"] + (
        ["simhash"] if has_sim else []
    )
    out_cols = [
        F.col("doc_id").alias("member_id"),
        F.col("cluster_id"),
        F.col("content_hash"),
        minhash_col,
    ] + ([F.col("simhash")] if has_sim else [])
    if cfg is not None:
        # NULL-guarded: xxhash64 SKIPS null arguments, so band_key_col
        # over a NULL signature would emit identical non-null garbage
        # keys for every short doc — one giant junk bucket per band.
        # NULL keys instead; the probe's explode drops them (the same
        # contract as band_key_buckets' isNotNull filter).
        out_cols.append(
            F.when(
                F.col("minhash").isNotNull(),
                band_key_col(
                    "minhash", cfg.rows_per_band, cfg.bands, cfg.hash_seed
                ),
            ).alias("band_keys")
        )
    return (
        enriched.select(*sig_cols)
        .join(assignments.select("doc_id", "cluster_id"), "doc_id")
        .select(*out_cols)
    )


def dedup_increment(
    spark: SparkSession,
    new_docs: DataFrame,
    index: DataFrame,
    cfg: DedupConfig | None = None,
    base_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    collect_stats: bool = False,
    tiers: tuple[str, ...] = ("exact", "minhash"),
) -> IncrementResult:
    """Dedup `new_docs` against `index` (and within themselves).

    `tiers`: which increment tiers run — a subset of
    ("exact", "minhash", "simhash"); "exact" is always required (the
    dictionary probe is the identity of the operation). "simhash"
    (off by default) probes the index's 8-byte simhash fingerprints
    with the same pigeonhole chunk bucketing as the full pipeline —
    it closes the residual recall gap for high-bit-agreement pairs
    whose Jaccard sits just under the LSH S-curve, for ~1% extra
    index width. It requires an index whose rows carry `simhash`
    (indexes from `build_index` / `index_from_enriched` over the
    pipeline's enriched stage do). The substring tier remains
    full-run-only by design.

    `base_docs`: optional (doc_id, text) covering the base corpus. When
    given, borderline LSH candidates get the same exact-Jaccard
    verification as a full run (texts are fetched for just the
    borderline docs). When omitted, borderline pairs are decided by the
    MinHash estimate at the threshold itself — unbiased, but a pair
    within ~sigma (0.035 at 128 perms) of the threshold may flip vs a
    full run. Documented trade for running increments without
    base-corpus access.

    `collect_stats=True` additionally records the LSH candidate
    accounting (touched buckets, capped buckets, dropped pairs) in
    `metrics["lsh_candidates"]` — the honest-skew observability the
    full pipeline reports per run, at the cost of one extra aggregation
    job per increment (off by default for throughput streams).
    """
    cfg = cfg or DedupConfig()
    metrics: dict = {}

    allowed = {"exact", "minhash", "simhash"}
    if not set(tiers) <= allowed or "exact" not in tiers:
        raise ValueError(
            f"increment tiers must be a subset of {sorted(allowed)} "
            f"containing 'exact', got {tiers!r}"
        )
    if "simhash" in tiers and "simhash" not in index.columns:
        raise ValueError(
            "tiers includes 'simhash' but the index has no simhash "
            "column — rebuild it with build_index/index_from_enriched "
            "(the pipeline's enriched stage carries simhash)"
        )
    # index schema is sticky: once an index carries simhash, every
    # appended row must too, or the next increment's union would break
    carry_sim = "simhash" in index.columns

    # --- signature-config guard (ConfigMismatch fail-fast, as for
    # resume): a num_perm/hash_seed/shingle_k drift vs the index-building
    # config makes signatures incomparable and LSH recall ~0, silently.
    pinned = index.schema["minhash"].metadata.get("sig_cfg")
    if pinned is not None and pinned != _sig_fingerprint(cfg):
        from .io import ConfigMismatch

        raise ConfigMismatch(
            f"increment index was built with signature config [{pinned}], "
            f"got [{_sig_fingerprint(cfg)}]; refusing to probe"
        )

    n_part = int(
        spark.conf.get("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
    )
    new_base = new_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).repartition(n_part, "doc_id")

    enriched = _enrich(
        new_base, cfg, "doc_id", "text", include_simhash=carry_sim
    ).localCheckpoint(eager=True)

    # --- ID contract: every new id above every base member id ----------
    # Legacy-shape guards, for an UNPINNED index only: its signatures
    # may have a different width than cfg.num_perm, or its content_hash
    # may be the old hex string (64 bytes — would join string==binary
    # against the new 16-byte key and silently match NOTHING). These
    # fold into the id-bound aggregate over the WHOLE index (no extra
    # job, wherever the bad rows sit), but size(minhash) reads the
    # ~1 KB/row signature column; a pinned index skips that read, since
    # its fingerprint (checked above) fixes both the signature width and
    # the content key, and keeps the 8 B/row member_id scan.
    index_aggs = [F.max("member_id").alias("hi")]
    if pinned is None:
        index_aggs += [
            F.min(F.size("minhash")).alias("sig_lo"),
            F.max(F.size("minhash")).alias("sig_hi"),
            F.max(F.octet_length("content_hash")).alias("ch_len"),
        ]
    bounds = (
        enriched.agg(F.min("doc_id").alias("lo"), F.count(F.lit(1)).alias("n"))
        .crossJoin(index.agg(*index_aggs))
        .first()
        .asDict()
    )
    min_new, max_base = bounds["lo"], bounds["hi"]
    metrics["n_new_docs"] = bounds["n"]
    if bounds.get("sig_lo") is not None and (
        bounds["sig_lo"] != cfg.num_perm or bounds["sig_hi"] != cfg.num_perm
    ):
        from .io import ConfigMismatch

        raise ConfigMismatch(
            f"index minhash width {bounds['sig_lo']}..{bounds['sig_hi']} "
            f"!= cfg.num_perm {cfg.num_perm}; signatures are incomparable"
        )
    if bounds.get("ch_len") is not None and bounds["ch_len"] != 16:
        from .io import ConfigMismatch

        raise ConfigMismatch(
            f"index content_hash is {bounds['ch_len']} bytes, expected the "
            "16-byte binary sha256 prefix (with_content_key); an index "
            "built by an older hex-string version must be rebuilt — a "
            "string==binary probe would silently match nothing"
        )
    if bounds["n"] == 0:
        # empty increment: without this, lo falls back to 0 and the
        # b >= lo filter stops excluding old-old pairs — the LSH tier
        # would estimate-screen the whole base index against itself for
        # a guaranteed no-op
        empty_assign = enriched.select(
            "doc_id",
            F.col("doc_id").alias("cluster_id"),
            F.lit(True).alias("is_canonical"),
        )
        empty_merges = index.select(
            F.col("cluster_id").alias("old_cluster_id"),
            F.col("cluster_id").alias("merged_into"),
        ).filter(F.lit(False))
        return IncrementResult(
            assignments=empty_assign,
            merges=empty_merges,
            index=index,
            metrics=metrics,
        )
    if max_base is not None and min_new is not None and min_new <= max_base:
        raise ValueError(
            f"increment ids must exceed base member ids "
            f"(min new {min_new} <= max base {max_base}); "
            "cluster-id stability relies on min-id election"
        )
    lo = F.lit(min_new if min_new is not None else 0)

    # --- tier 1a: exact probe vs index (the dictionary hit path) -------
    exact_old = (
        enriched.select("doc_id", "content_hash")
        .join(index.select("cluster_id", "content_hash").distinct(), "content_hash")
        .select(F.col("cluster_id").alias("a"), F.col("doc_id").alias("b"))
    )

    # --- tier 1b: exact within the new batch (dictionary misses) -------
    # NULL hashes (text IS NULL) are excluded exactly as in the full
    # pipeline's exact tier: the window would group all NULL keys into
    # one bogus duplicate cluster, and the index probe (an equi-join,
    # which drops NULLs) would then disagree with it
    w = Window.partitionBy("content_hash")
    exact_new = (
        enriched.select("doc_id", "content_hash")
        .filter(F.col("content_hash").isNotNull())
        .withColumn("a", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("a"))
        .select("a", F.col("doc_id").alias("b"))
    )

    near_frames: list[DataFrame] = []

    if "minhash" in tiers:
        # --- tier 2: MinHash-LSH, probe-shaped -------------------------
        # Only buckets TOUCHED by the new batch are examined: the
        # index's band memberships are left-semi-joined on the new
        # batch's distinct band keys BEFORE the capped window/expansion,
        # so pure-old buckets (the overwhelming majority of a big index)
        # are never sorted or pair-expanded — cost is O(|new| x bands)
        # probe + the touched buckets, not O(|index| x bands) per
        # increment. Result-identical to running over the full union:
        # untouched buckets could only contribute old-old pairs, which
        # the b >= lo filter discarded anyway (the base run already
        # adjudicated them); touched buckets keep their full membership,
        # so the capped expansion and chain links inside them are
        # unchanged.
        new_members = band_key_buckets(enriched, cfg)
        touched = new_members.select("band_key").distinct()
        if "band_keys" in index.columns:
            # precomputed band keys (index_from_enriched, r06): the
            # probe reads the ~260 B/row band_keys column instead of
            # re-deriving every key from the ~1 KB minhash column —
            # a 4x narrower scan and zero per-member hash evals per
            # increment. explode drops the NULL arrays of short docs.
            idx_bands = index.select(
                F.col("member_id").alias("doc_id"),
                F.explode("band_keys").alias("band_key"),
            )
        else:
            idx_bands = band_key_buckets(
                index.select(F.col("member_id").alias("doc_id"), "minhash"),
                cfg,
            )
        idx_members = (
            idx_bands.join(touched, "band_key", "left_semi")
            # the USING-column join moves band_key to the front; re-pin
            # the column ORDER before the positional union (union is by
            # position — a swapped order would silently feed band keys
            # into the doc_id column)
            .select("doc_id", "band_key")
        )
        cand = bucket_pairs(
            idx_members.union(new_members),
            ["band_key"],
            cap=cfg.bucket_pair_cap,
            reuse_input=collect_stats,
        )
        lsh_pairs = cand.pairs.filter(F.col("b") >= lo)
        if collect_stats:
            # Materialize the pairs HERE, then collect the metrics and
            # release the shared membership cache immediately. Owning
            # the materialization decouples the cleanup from the
            # downstream helper's internals (round-4 advice: the
            # previous formulation unpersisted after minhash_near_edges
            # on the assumption that its internal eager checkpoint had
            # consumed the pairs — if that ever changed, the verify
            # path would silently recompute the full band-explode
            # subtree with the cache gone).
            lsh_pairs = lsh_pairs.localCheckpoint(eager=True)
            metrics["lsh_candidates"] = cand.metrics.collect()[0].asDict()
            if cand.shared is not None:
                cand.shared.unpersist()

        sigs = index.select(
            F.col("member_id").alias("doc_id"), "minhash"
        ).union(enriched.select("doc_id", "minhash"))
        texts = None
        if base_docs is not None:
            texts = new_base.union(
                base_docs.select(
                    F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
                )
            )
        # the SAME decision procedure as the full pipeline (shared
        # helper — see minhash_near_edges); texts=None decides
        # borderline pairs by the estimate at the threshold (documented
        # trade in the docstring). prefilter_sigs: the index minhash
        # column is the probe's dominant read — slice it to the pair
        # ids once instead of streaming it through both estimate joins
        near_frames.append(
            minhash_near_edges(
                lsh_pairs, sigs, cfg, texts=texts, prefilter_sigs=True
            )
        )

    if "simhash" in tiers:
        # --- tier 3: SimHash pigeonhole, probe-shaped ------------------
        # Same probe shape as the LSH tier: only chunk buckets touched
        # by the new batch are expanded (left-semi on the new batch's
        # distinct (chunk_idx, chunk_val) keys), so steady-state cost
        # is O(|new| x chunks), not O(|index| x chunks). Verification
        # is the exact Hamming check (pure codegen) — identical
        # decision procedure to the full pipeline's simhash tier.
        from .operators.simhash import simhash_chunk_buckets, verify_hamming

        idx_sim = index.select(F.col("member_id").alias("doc_id"), "simhash")
        new_sim_b = simhash_chunk_buckets(enriched, cfg)
        touched_sim = new_sim_b.select("chunk_idx", "chunk_val").distinct()
        idx_sim_b = (
            simhash_chunk_buckets(idx_sim, cfg)
            .join(touched_sim, ["chunk_idx", "chunk_val"], "left_semi")
            .select("doc_id", "chunk_idx", "chunk_val")
        )
        sim_cand = bucket_pairs(
            idx_sim_b.union(new_sim_b.select("doc_id", "chunk_idx", "chunk_val")),
            ["chunk_idx", "chunk_val"],
            cap=cfg.bucket_pair_cap,
            reuse_input=collect_stats,
        )
        sim_pairs = sim_cand.pairs.filter(F.col("b") >= lo)
        if collect_stats:
            # Same dropped-pair accounting contract as the LSH tier
            # above: capped chunk buckets chain-link and DROP pairs,
            # and that loss must be observable, never silent
            # (operators/candidates.py invariant). Materialize the
            # pairs first so the metrics collect and the downstream
            # verify both reuse one band-explode pass.
            sim_pairs = sim_pairs.localCheckpoint(eager=True)
            metrics["simhash_candidates"] = sim_cand.metrics.collect()[0].asDict()
            if sim_cand.shared is not None:
                sim_cand.shared.unpersist()
        sim_frame = idx_sim.union(enriched.select("doc_id", "simhash"))
        near_frames.append(
            verify_hamming(sim_pairs, sim_frame, cfg).select("a", "b")
        )

    # near edges touch old MEMBERS; lift them to their cluster id so the
    # component election lands on the stable existing id
    if near_frames:
        near = near_frames[0]
        for nf in near_frames[1:]:
            near = near.union(nf)
        m2c = index.select(
            F.col("member_id").alias("a"), F.col("cluster_id").alias("_c")
        )
        near_lifted = (
            near.join(m2c, "a", "left")
            .select(F.coalesce("_c", "a").alias("a"), "b")
        )
    else:
        near_lifted = exact_new.limit(0)

    # --- components over the increment edge set ------------------------
    edges = exact_old.union(exact_new).union(near_lifted)
    comp = connected_components(
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        max_iterations=cfg.cc_max_iterations,
        checkpoint_mode=cfg.cc_checkpoint_mode,
    )
    if not comp.isLocal():
        # above the driver union-find bound CC hands back the star
        # rounds' lazy plan, which assignments, merges and the index
        # remap below would each recompute
        comp = comp.localCheckpoint(eager=True)

    assignments = (
        enriched.select("doc_id")
        .join(comp, enriched.doc_id == comp.node, "left")
        .select(
            "doc_id", F.coalesce("component", "doc_id").alias("cluster_id")
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )

    # --- explicit merge report: base clusters bridged by a new doc -----
    # old nodes in the component graph are cluster ids (near edges are
    # lifted; exact_old emits cluster ids): any old node not electing
    # itself was merged into another base cluster
    merges = comp.filter(
        (F.col("node") < lo) & (F.col("node") != F.col("component"))
    ).select(
        F.col("node").alias("old_cluster_id"),
        F.col("component").alias("merged_into"),
    )

    # --- updated index: remap merged base rows, append the new batch ---
    # index schema is sticky: band_keys (like simhash) is carried iff
    # the base index has it; appended rows derive theirs from the new
    # batch's signatures with the same NULL guard as index_from_enriched
    carry_bands = "band_keys" in index.columns
    sig_tail = ["content_hash", "minhash"] + (["simhash"] if carry_sim else [])
    idx_kept = index.join(
        merges, index.cluster_id == merges.old_cluster_id, "left"
    ).select(
        "member_id",
        F.coalesce("merged_into", "cluster_id").alias("cluster_id"),
        *sig_tail,
        *(["band_keys"] if carry_bands else []),
    )
    new_tail = list(sig_tail)
    if carry_bands:
        from .functions.hashing import band_key_col

        new_tail.append(
            F.when(
                F.col("minhash").isNotNull(),
                band_key_col(
                    "minhash", cfg.rows_per_band, cfg.bands, cfg.hash_seed
                ),
            ).alias("band_keys")
        )
    new_rows = (
        assignments.select("doc_id", "cluster_id")
        .join(enriched, "doc_id")
        .select(
            F.col("doc_id").alias("member_id"),
            "cluster_id",
            *new_tail,
        )
    )
    updated_index = idx_kept.union(new_rows)

    return IncrementResult(
        assignments=assignments,
        merges=merges,
        index=updated_index,
        metrics=metrics,
    )
