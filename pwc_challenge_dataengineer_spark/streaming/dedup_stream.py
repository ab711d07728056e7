"""Streaming near-duplicate ingestion: MinHash dedup of a document stream
against an accumulated signature store.

The LLM-pipeline shape this implements: documents arrive continuously; each
micro-batch must be deduplicated BOTH within itself and against everything
ingested before it, and only first-seen (representative) documents flow on to
the corpus. Spark has no built-in cross-batch fuzzy dedup —
``dropDuplicatesWithinWatermark`` is exact-key only — so this composes the
batch MinHash kit (functions/dedup_fuzzy.py) with an append-only segment
store inside ``foreachBatch``:

  1. profile the incoming batch (one fused explode+groupBy: band minima +
     verify hash set per doc);
  2. LSH-join (store signatures ∪ batch signatures) against the batch
     signatures in ONE candidate pass — batch-internal pairs oriented
     id_a < id_b, store-side pairs excluding only self-matches. The store's
     SIGNATURE INDEX is long-form (band, signature, doc_id), written
     partitioned by band (at 100 TB: a bucketed table on signature within
     each band partition, so this join co-locates without shuffling the
     accumulated corpus); narrow — sh_set arrays never ride through the
     candidate join;
  3. exact-verify all candidates with the hash sets in one pass
     (array_intersect Jaccard ≥ threshold → duplicate-of verdict, min
     qualifying doc_id wins ties, chains followed to a retained
     representative);
  4. commit the surviving representatives to the store as ONE APPEND-ONLY
     SEGMENT (profiles + exploded signatures under a single manifest entry),
     and emit (doc_id, verdict, duplicate_of) for every input doc. Appending
     a segment costs O(batch); the old full-snapshot MERGE re-wrote O(store)
     every batch, so per-batch latency grew with the corpus. Periodic
     compaction (every ``compact_every`` commits) folds the small segments
     back into one, bounding the per-read file count.

Per-batch latency floor = Spark JOB COUNT × local scheduling overhead, so
the batch body is shaped to a minimal job inventory: profile checkpoint,
ONE fused verify + duplicate-of + batch-counts collect, then overlapped
verdict + segment writes that are pure literal-expression filters and
projections over the profile leaf (no further checkpoints, no
broadcast-build or count jobs). Store reads cost zero jobs while the
in-memory segment cache is warm (see DedupSegmentStore).

Verdict contract: ``duplicate_of`` chains (batch doc → batch rep → stored
rep) are fully resolved driver-side — the dup map is micro-batch-bounded
(it crossed the driver as a broadcast in the former self-join shape
anyway), so pointer-chasing it in Python costs no Spark jobs and every
emitted ``duplicate_of`` names a document that was actually retained as a
representative, for chains of any length.

Exactly-once posture: the store commit is manifest-gated per batch_id — a
replayed micro-batch finds its segment already committed and skips the
append (idempotent; segment data writes are overwrite-mode so a crash
between data write and manifest commit also replays cleanly). The verdict
FILE sink is plain append (at-least-once on replay; downstream dedupes on
(batch_id, doc_id) — stated honestly rather than claimed away). On such a
replay the store already contains this batch's survivors, so the store
join guards id_a != id_b; re-emitted verdicts may then name a same-batch
representative instead of the original cross-batch one — a true verdict,
differently-rooted, covered by the at-least-once statement.

Broadcast posture: the store-side verify join is broadcast only while the
store profile count stays under ``broadcast_store_max_rows`` — the store
grows with the unique corpus, so an unconditional broadcast hint would
eventually exceed the driver/broadcast envelope (the advisor's finding);
past the cutoff the shuffled hash join is the correct shape.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dedup_fuzzy import (
    VERIFY_HASH_SCHEME,
    jaccard_verify_profiles,
    minhash_doc_profiles,
    profiles_to_signatures,
)
from ..sources.commit import write_atomic

N_BANDS = 4
_RESOLVE_ROUNDS = 2

#: largest per-batch duplicate map inlined as literal map/isin expressions
#: (zero extra Spark jobs); bigger maps fall back to a broadcast join so a
#: pathological all-duplicates batch cannot bloat the plan unboundedly
_EXPR_MAP_MAX = 2_000


class DedupSegmentStore:
    """Append-only segment log for the dedup signature store.

    Layout::

        <path>/manifest.json              # {"segments": [...], "ncompact": n}
        <path>/profiles/seg=<id>/         # doc_id, sh_set, n_sh
        <path>/sigs/seg=<id>/band=<b>/    # signature, doc_id

    One manifest entry covers BOTH the profile and signature segment of a
    batch, so replay idempotency is a single check. Reads union the active
    segments (bounded by ``compact_every``); ``compact`` folds them into one.
    Crash-safety: data dirs are written overwrite-mode BEFORE the manifest
    swap (commit.write_atomic), so a torn commit is invisible and replayable;
    compaction removes superseded dirs only after the swap, so orphan dirs
    are dead weight, never read.
    """

    #: cache the store's frames as in-memory checkpoint blocks while the
    #: profile count stays under this bound; beyond it reads fall back to
    #: the on-disk segments. The cache assumes SINGLE-WRITER (exactly what
    #: foreachBatch guarantees) — every mutation goes through this
    #: instance, which keeps cache and disk in lockstep. Rationale: the
    #: measured per-batch floor was dominated by re-listing + re-reading
    #: up to compact_every segment dirs (x5 subdirs) every micro-batch;
    #: executor-memory state reused across batches is the standard Spark
    #: shape for streaming joins against slowly-growing state.
    cache_max_rows: int = 5_000_000

    #: target parquet rows per file in segment/compaction writes — segments
    #: are sized by ROW COUNT, not by the upstream shuffle width (a 25-row
    #: batch writing 32 near-empty files per subdir was the measured
    #: per-batch listing/footer cost); at 100 TB a large batch still fans
    #: out across ceil(n/this) files.
    rows_per_file: int = 500_000

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        cache_max_rows: int | None = None,
    ):
        self.spark = spark
        self.path = path
        if cache_max_rows is not None:
            self.cache_max_rows = cache_max_rows
        # {seg_id: (profiles_df, sigs_df)} per live segment, frames backed
        # by in-memory checkpoint blocks; None = cold (warm lazily from
        # disk). Keyed by id so tiered compaction can fold a SUBSET
        self._cache: dict[str, tuple[DataFrame, DataFrame]] | None = None
        # monotone: once the store outgrows cache_max_rows reads stay on
        # disk (the store only grows)
        self._cache_disabled = False
        os.makedirs(path, exist_ok=True)

    @property
    def _manifest(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _load(self) -> dict:
        if not os.path.exists(self._manifest):
            return {
                "segments": [],
                "applied": [],
                "ncompact": 0,
                "rows": {},
                "hash_scheme": VERIFY_HASH_SCHEME,
            }
        with open(self._manifest) as f:
            state = json.load(f)
        # sh_set is ARRAY<BIGINT> under EVERY hash scheme, so a store
        # written under an older scheme reads cleanly but silently
        # undercounts n_common (missed near-dups). Fail fast instead;
        # a manifest with no recorded scheme predates versioning and is
        # equally unknowable.
        scheme = state.get("hash_scheme")
        if scheme != VERIFY_HASH_SCHEME:
            raise ValueError(
                f"dedup store at {self.path} was written with verify-hash "
                f"scheme {scheme!r} but this build uses "
                f"{VERIFY_HASH_SCHEME!r}; rebuild the store (delete the "
                "directory and re-ingest) — mixing schemes undercounts "
                "shared shingles"
            )
        state.setdefault("applied", list(state["segments"]))
        state.setdefault("rows", {})
        return state

    def _swap(self, state: dict) -> None:
        state["hash_scheme"] = VERIFY_HASH_SCHEME
        write_atomic(self._manifest, json.dumps(state))

    def has_segment(self, seg_id: str) -> bool:
        # `applied` survives compaction; `segments` is only the LIVE data
        # layout. Replay idempotency must check the former — a batch whose
        # segment was folded into a compaction is still applied, and
        # re-appending it would duplicate its survivors.
        return seg_id in self._load()["applied"]

    def n_segments(self) -> int:
        return len(self._load()["segments"])

    def total_rows(self) -> int:
        """Store profile row count from the manifest — counted once at
        append time, free to read per batch (no Spark job)."""
        return sum(self._load()["rows"].values())

    _PROFILE_SCHEMA = "doc_id BIGINT, sh_set ARRAY<BIGINT>, n_sh BIGINT"
    _SIG_SCHEMA = "doc_id BIGINT, signature STRING, band INT"

    def _seg_dirs(self, kind: str) -> list[str]:
        # empty-survivor batches commit a manifest entry with no data dir
        return [
            d
            for s in self._load()["segments"]
            if os.path.isdir(d := os.path.join(self.path, kind, f"seg={s}"))
        ]

    def _warm(self) -> bool:
        """Serve reads from in-memory checkpoint blocks while the store fits
        ``cache_max_rows``. Cold -> load each live segment from disk ONCE and
        checkpoint it; every later micro-batch reads memory, not the
        segment-dir listing + parquet footers that dominated the measured
        per-batch floor. Single-writer (the foreachBatch contract) keeps
        cache and disk in lockstep; a restart simply re-warms from disk."""
        if self._cache_disabled:
            return False
        if self._cache is not None:
            return True
        if self.total_rows() > self.cache_max_rows:
            self._cache_disabled = True
            return False
        segs: dict[str, tuple[DataFrame, DataFrame]] = {}
        for s in self._load()["segments"]:
            pdir = os.path.join(self.path, "profiles", f"seg={s}")
            sdir = os.path.join(self.path, "sigs", f"seg={s}")
            if not os.path.isdir(pdir):
                continue  # manifest-only empty-survivor segment
            segs[s] = (
                self.spark.read.schema(self._PROFILE_SCHEMA)
                .parquet(pdir)
                .localCheckpoint(eager=True),
                self.spark.read.schema(self._SIG_SCHEMA)
                .parquet(sdir)
                .localCheckpoint(eager=True),
            )
        self._cache = segs
        return True

    def _cache_push(
        self, seg_id: str, prof: DataFrame, sig: DataFrame, n: int
    ) -> None:
        """Extend the warm cache with a just-committed segment; drop to disk
        reads permanently once the store outgrows the cap."""
        if self._cache is None or self._cache_disabled:
            return
        if self.total_rows() > self.cache_max_rows:
            self._cache, self._cache_disabled = None, True
            return
        # lazy projections over prof's ALREADY-checkpointed blocks — no
        # extra materialization per batch; sh_set/signature reads are narrow
        # column slices of those blocks at join time
        self._cache[seg_id] = (
            prof.select("doc_id", "sh_set", "n_sh"),
            sig.select("doc_id", "signature", "band"),
        )

    def append(
        self,
        profiles: DataFrame,
        seg_id: str,
        leaf_backed: bool = False,
        precount: int | None = None,
    ) -> bool:
        """Commit one batch's surviving profiles (+ derived signature index)
        as a new segment. Returns False when the segment already exists —
        the replayed-batch case. An all-duplicates batch (no survivors)
        commits a manifest-only entry: the idempotency record without an
        unreadable zero-file parquet dir.

        The checkpoint here is also what makes the segment CACHE flat-cost:
        cached frames are narrow projections over these materialized blocks
        (no joins re-executed per store read). ``leaf_backed=True`` skips
        it — the caller asserts ``profiles`` is already a filter/projection
        over in-memory checkpoint blocks (NEVER a join plan: session-lived
        cache frames deriving from a join DAG is exactly the r7 stats-
        estimation pathology — see the checkpoint-ancestry note in
        ``make_dedup_batch_fn`` and ``scripts/repro_stats_ancestry.py``),
        so the count + two segment writes + cache re-scan it cheaply and
        one scheduling round is saved per batch. ``precount``: the exact
        row count of ``profiles`` when the caller already knows it — skips
        the count job (every Spark job is a scheduling round on the
        micro-batch latency floor); the manifest row entry drives the
        broadcast cutoff and the cache cap, so it must be exact."""
        state = self._load()
        if seg_id in state["applied"]:
            return False
        prof = profiles.select(
            "doc_id", "sh_set", "n_sh", *[f"__s{b}" for b in range(N_BANDS)]
        )
        if not leaf_backed:
            prof = prof.localCheckpoint(eager=True)
        # on the checkpointed blocks when counted here — cheap, recorded once
        n = precount if precount is not None else prof.count()
        sig = None
        if n:
            nfiles = -(-n // self.rows_per_file)  # files sized by rows
            pdir = os.path.join(self.path, "profiles", f"seg={seg_id}")
            sdir = os.path.join(self.path, "sigs", f"seg={seg_id}")
            sig = profiles_to_signatures(prof, "doc_id", N_BANDS)

            def _write_profiles() -> None:
                prof.select("doc_id", "sh_set", "n_sh").coalesce(
                    nfiles
                ).write.mode("overwrite").parquet(pdir)

            def _write_sigs() -> None:
                # Fresh per-batch segments write band as a PLAIN COLUMN:
                # they live at most ``compact_every`` batches before the
                # fold, and the dynamic-partition committer (4 band dirs ×
                # files + per-dir commits) was a measured slice of the
                # per-batch write phase. The long-lived COMPACTED segment
                # (see compact()) keeps the band-partitioned layout — at
                # 100 TB that is the store the candidate join actually
                # scans (band-partitioned + signature-bucketed so it
                # co-locates), while fresh micro-segments are latency-path
                # scratch. The read path gives an explicit schema, so band
                # resolves as a data column here and as a partition column
                # on compacted dirs.
                sig.select("doc_id", "signature", "band").coalesce(
                    nfiles
                ).write.mode("overwrite").parquet(sdir)

            # independent dirs over the same checkpointed blocks: submit
            # both write jobs concurrently — per-batch latency is job-count
            # bound, and serializing independent jobs wastes the scheduler
            with ThreadPoolExecutor(2) as pool:
                for fut in [
                    pool.submit(_write_profiles),
                    pool.submit(_write_sigs),
                ]:
                    fut.result()
        state["segments"].append(seg_id)
        state["applied"].append(seg_id)
        state["rows"][seg_id] = n
        # monotone append counter + per-segment [min, max] append range:
        # the TTL-expiry horizon (see compact) is measured in appends
        state["nseq"] = state.get("nseq", 0) + 1
        state.setdefault("seq", {})[seg_id] = [state["nseq"], state["nseq"]]
        self._swap(state)
        if sig is not None:
            self._cache_push(seg_id, prof, sig, n)
        return True

    def _union(self, kind: str) -> DataFrame | None:
        dirs = self._seg_dirs(kind)
        if not dirs:
            return None
        schema = self._PROFILE_SCHEMA if kind == "profiles" else self._SIG_SCHEMA
        dfs = [self.spark.read.schema(schema).parquet(d) for d in dirs]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _cached_union(self, idx: int) -> DataFrame | None:
        frames = [pair[idx] for pair in (self._cache or {}).values()]
        if not frames:
            return None
        out = frames[0]
        for d in frames[1:]:
            out = out.unionByName(d)
        return out

    def read(self) -> DataFrame:
        """Current store profiles (doc_id, sh_set, n_sh); empty-schema frame
        when nothing committed yet."""
        out = self._cached_union(0) if self._warm() else self._union("profiles")
        if out is None:
            return self.spark.createDataFrame(
                [], "doc_id BIGINT, sh_set ARRAY<BIGINT>, n_sh BIGINT"
            )
        return out

    def read_sigs(self) -> DataFrame | None:
        return self._cached_union(1) if self._warm() else self._union("sigs")

    def compact(
        self,
        fanout: int | None = None,
        ttl_appends: int | None = None,
    ) -> None:
        """Fold segments; optionally expire beyond-horizon ones (r13).

        ``fanout=None`` (legacy): fold ALL live segments into one — an
        O(store) rewrite, fine for bounded runs and bulk back-fills.
        ``fanout=k``: SIZE-TIERED fold — merge only the ``k`` smallest
        live segments (LSM-style). Micro-segments fold into runs at
        constant cost; a run is re-folded only once enough smaller
        segments outgrow it, so every row is rewritten O(log_k n) times
        total instead of O(n / compact_every), which is what turned the
        dedup leg's long-horizon tail from rising to flat. Superseded
        dirs are removed only after the manifest swap, as before.

        ``ttl_appends``: horizon in APPEND counts — only the most
        recent ``ttl_appends`` appends' segments survive; older ones
        (newest contributing append <= ``nseq - ttl_appends``) are
        DROPPED whole (manifest + dirs), bounding store size at
        O(horizon); duplicates of dropped documents are no longer
        detected (the bounded-state trade, the watermark analog for
        fuzzy dedup). Fold records the [min, max] append range it
        covers, so expiry granularity degrades to run width — bounded,
        and never drops a segment NEWER than the horizon."""
        state = self._load()
        seqs = state.setdefault("seq", {})
        live = list(state["segments"])
        expired: list[str] = []
        if ttl_appends is not None:
            cur = state.get("nseq", len(state["applied"]))
            horizon = cur - ttl_appends
            expired = [
                s for s in live if seqs.get(s, [cur, cur])[1] <= horizon
            ]
            live = [s for s in live if s not in expired]
        merge = sorted(live, key=lambda s: (state["rows"].get(s, 0), s))
        if fanout is not None:
            merge = merge[:fanout] if len(live) >= fanout else []
        if len(merge) <= 1 and not expired:
            return
        folded: list[tuple[DataFrame, DataFrame]] = []
        cid = None
        if len(merge) > 1:
            cid = f"c{state['ncompact']}"
            pairs = self._seg_frames(merge)
            nrows = sum(state["rows"].get(s, 0) for s in merge)
            if pairs:
                prof = pairs[0][0]
                sigs = pairs[0][1]
                for pp, ss in pairs[1:]:
                    prof = prof.unionByName(pp)
                    sigs = sigs.unionByName(ss)
                nfiles = max(1, -(-nrows // self.rows_per_file))
                prof = prof.localCheckpoint(eager=True)
                sigs = sigs.localCheckpoint(eager=True)
                pdir = os.path.join(self.path, "profiles", f"seg={cid}")
                sdir = os.path.join(self.path, "sigs", f"seg={cid}")
                prof.coalesce(nfiles).write.mode("overwrite").parquet(pdir)
                sigs.select("doc_id", "signature", "band").coalesce(
                    nfiles
                ).write.mode("overwrite").partitionBy("band").parquet(sdir)
                folded = [(prof, sigs.select("doc_id", "signature", "band"))]
        gone = set(expired) | set(merge if cid else [])
        new_segments = [s for s in state["segments"] if s not in gone]
        new_rows = {
            s: n for s, n in state["rows"].items() if s not in gone
        }
        new_seq = {s: r for s, r in seqs.items() if s not in gone}
        if cid:
            new_segments.append(cid)
            new_rows[cid] = sum(
                state["rows"].get(s, 0) for s in merge
            )
            covered = [seqs[s] for s in merge if s in seqs]
            if covered:
                new_seq[cid] = [
                    min(r[0] for r in covered),
                    max(r[1] for r in covered),
                ]
        self._swap(
            {
                "segments": new_segments,
                # applied batch ids MUST survive fold AND expiry — they
                # are the replay-idempotency record (a replayed batch
                # must still find itself applied after its segment was
                # compacted away or aged out)
                "applied": state["applied"],
                "ncompact": state["ncompact"] + (1 if cid else 0),
                "rows": new_rows,
                "nseq": state.get("nseq", len(state["applied"])),
                "seq": new_seq,
            }
        )
        if self._cache is not None and not self._cache_disabled:
            for s in gone:
                self._cache.pop(s, None)
            if cid and folded:
                self._cache[cid] = folded[0]
        for s in gone:
            for kind in ("profiles", "sigs"):
                shutil.rmtree(
                    os.path.join(self.path, kind, f"seg={s}"),
                    ignore_errors=True,
                )

    def _seg_frames(
        self, seg_ids: list[str]
    ) -> list[tuple[DataFrame, DataFrame]]:
        """(profiles, sigs) frames for the given live segments — cache-
        served when warm, else read from the segment dirs; manifest-only
        empty segments contribute nothing."""
        out: list[tuple[DataFrame, DataFrame]] = []
        warm = self._warm()
        for s in seg_ids:
            if warm and s in (self._cache or {}):
                out.append(self._cache[s])
                continue
            pdir = os.path.join(self.path, "profiles", f"seg={s}")
            sdir = os.path.join(self.path, "sigs", f"seg={s}")
            if not os.path.isdir(pdir):
                continue
            out.append(
                (
                    self.spark.read.schema(self._PROFILE_SCHEMA).parquet(
                        pdir
                    ),
                    self.spark.read.schema(self._SIG_SCHEMA).parquet(sdir),
                )
            )
        return out


def _resolve_chains(dup_of: DataFrame, rounds: int = _RESOLVE_ROUNDS) -> DataFrame:
    """Point ``duplicate_of`` at a retained representative: each round
    follows one chain hop (doc → dup → dup's target). Batch chains strictly
    decrease on doc_id and store targets are terminal (the store holds only
    representatives), so ``rounds`` hops resolve chains of up to 2^rounds
    links; anything longer (pathological within-one-batch chains) stays
    single-link — the documented contract."""
    for _ in range(rounds):
        nxt = dup_of.select(
            F.col("doc_id").alias("duplicate_of"),
            F.col("duplicate_of").alias("__next"),
        )
        dup_of = (
            dup_of.join(F.broadcast(nxt), "duplicate_of", "left")
            .select(
                "doc_id",
                F.coalesce("__next", "duplicate_of").alias("duplicate_of"),
            )
        )
    return dup_of


def make_dedup_batch_fn(
    store: DedupSegmentStore,
    out_path: str,
    threshold: float = 0.5,
    broadcast_store_max_rows: int = 100_000,
    compact_every: int = 8,
    batch_shuffle_partitions: int | None = 4,
    candidate_distinct: bool = False,
    compact_fanout: int | None = "auto",
    ttl_appends: int | None = None,
):
    """foreachBatch function: cross-batch MinHash dedup against ``store``,
    verdicts appended to ``out_path`` as parquet.

    ``compact_fanout``: size-tiered fold width passed to
    ``store.compact`` — "auto" (default) = ``max(2, compact_every -
    2)``, so each fold merges only the smallest segments (micro-
    segments + outgrown runs) instead of rewriting the WHOLE store
    every ``compact_every`` batches; None restores the legacy all-fold.
    ``ttl_appends``: optional expiry horizon (see ``compact``) — beyond
    it, old signatures age out whole-segment-wise and store size stays
    O(horizon).

    ``batch_shuffle_partitions``: shuffle width for the per-micro-batch
    plans. A micro-batch is orders of magnitude smaller than the session's
    batch workloads, and the session-wide shuffle width (32 here, thousands
    on a cluster) turns each tiny shuffle into mostly-empty tasks whose
    scheduling IS the latency floor. The conf is swapped in around the
    batch body and restored after — size it to the micro-batch volume (or
    None to leave the session width) on a real cluster.

    ``candidate_distinct``: a pair matching in m of the n_bands would be
    exact-verified m times; True dedups the candidate pairs before the
    verify join. For micro-batch LATENCY the extra shuffle stage costs
    more than verifying a pair ≤ n_bands times (measured ~-5% p50 with it
    off; the dup-map groupBy dedups the OUTPUT either way), so the default
    is off — turn it on for BULK back-fills, where the array_intersect
    verify is the dominant data-sized stage and candidate volume, not job
    count, is what matters.

    REQUIREMENT: the SparkSession must run ONLY this query while the
    stream is active when ``batch_shuffle_partitions`` is set.
    ``spark.sql.shuffle.partitions`` is session-scoped, not plan-scoped,
    so any OTHER query planned concurrently on the same session (a second
    stream's foreachBatch, a batch workload) would silently plan at the
    micro-batch width. The restore below detects third-party writes to
    the conf during the batch and refuses to clobber them, so interleaved
    set/restore between two streams cannot leave a wrong width installed
    permanently — but the isolation requirement stands; pass
    ``batch_shuffle_partitions=None`` on a shared session."""

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        conf = batch_df.sparkSession.conf
        old_width = None
        ours = None
        if batch_shuffle_partitions is not None:
            old_width = conf.get("spark.sql.shuffle.partitions")
            ours = str(batch_shuffle_partitions)
            conf.set("spark.sql.shuffle.partitions", ours)
        try:
            _run_batch(batch_df, batch_id)
        finally:
            if old_width is not None:
                if conf.get("spark.sql.shuffle.partitions") == ours:
                    conf.set("spark.sql.shuffle.partitions", old_width)
                else:
                    import warnings

                    warnings.warn(
                        "spark.sql.shuffle.partitions changed concurrently "
                        "during a dedup micro-batch; leaving the foreign "
                        "value in place (single-query-per-session "
                        "requirement violated)",
                        stacklevel=2,
                    )

    def _run_batch(batch_df: DataFrame, batch_id: int) -> None:
        # keep_empty_docs: docs with < k tokens have an EMPTY shingle
        # array, so a plain explode would drop them from the profile and
        # they would silently get no verdict row (output-completeness bug
        # for short documents). explode_outer inside the ONE profile
        # aggregation keeps them as rows with n_sh = 0, an empty verify
        # set, and NULL band minima — a NULL signature can never equi-join
        # a candidate, so they are trivially non-duplicates; costs zero
        # extra scans/joins (the first fix attempt — a distinct+left-join
        # over the chunk — double-scanned the source and added two
        # shuffles per batch, +45% on the measured p50).
        prof = minhash_doc_profiles(
            batch_df, "doc_id", "text", k=3, n_bands=N_BANDS,
            keep_empty_docs=True,
        ).localCheckpoint(eager=True)

        # ONE candidate pass: (store sigs ∪ batch sigs) vs batch sigs —
        # batch-internal pairs keep the id_a < id_b canonical orientation,
        # store-side pairs only exclude self-matches (the replayed-batch
        # case, where this batch's survivors are already stored). Fusing the
        # former two-stage shape (within-batch collapse, THEN reps-vs-store)
        # halves the verify joins and checkpoint jobs per micro-batch —
        # measured p50 dropped ~2.1s -> target; verdict semantics are
        # unchanged up to tie-breaks (duplicate_of = min qualifying id,
        # chains resolved below as before).
        batch_sig = profiles_to_signatures(prof, "doc_id", N_BANDS)
        left = batch_sig.select(
            F.col("doc_id").alias("id_a"),
            "band",
            "signature",
            F.lit(False).alias("__stored"),
        )
        stored_sig = store.read_sigs()
        stored = store.read()
        if stored_sig is not None:
            left = stored_sig.select(
                F.col("doc_id").alias("id_a"),
                "band",
                "signature",
                F.lit(True).alias("__stored"),
            ).unionByName(left)
        cand = (
            left.join(
                batch_sig.select(
                    F.col("doc_id").alias("id_b"), "band", "signature"
                ),
                ["band", "signature"],
            )
            .filter(
                (F.col("__stored") & (F.col("id_a") != F.col("id_b")))
                | (~F.col("__stored") & (F.col("id_a") < F.col("id_b")))
            )
            .select("id_a", "id_b")
        )
        if candidate_distinct:
            cand = cand.distinct()
        # broadcast only while the store fits the envelope — row count
        # comes from the manifest (recorded at append time), so the
        # cutoff costs no Spark job per batch.
        small = store.total_rows() <= broadcast_store_max_rows
        both_prof = stored.unionByName(prof.select("doc_id", "sh_set", "n_sh"))
        pairs = jaccard_verify_profiles(
            cand, both_prof, "doc_id", hint_small=small
        ).filter(F.col("jaccard") >= threshold)
        dupmap = pairs.groupBy(F.col("id_b").alias("doc_id")).agg(
            F.min("id_a").alias("duplicate_of")
        )
        # Batch counts ride ALONG in the dup-map collect as three sentinel
        # rows (doc_ids -1/-2/-3; the third carries min(doc_id) so the
        # non-negative assumption is VALIDATED per batch, not assumed): the
        # total row count is the empty-batch guard and the shingled count
        # becomes the store append's manifest row entry. The counts leg and
        # the verify leg are independent subtrees of one union, so their
        # stages run concurrently inside ONE job — the former shape (a
        # take(1) probe, then a separate count() inside append) spent two
        # extra scheduling rounds on the same information, and on the
        # micro-batch latency path scheduling rounds ARE the floor.
        sentinels = (
            prof.groupBy()
            .agg(
                F.count("*").alias("__n"),
                F.count(F.when(F.col("n_sh") > 0, 1)).alias("__ns"),
                # sentinel keyspace guard: doc_ids -1/-2/-3 are assumed
                # free, so the min doc_id rides along and the driver
                # REJECTS a batch with negative ids instead of silently
                # corrupting counts (coalesce: empty batch → 0, passes)
                F.coalesce(F.min("doc_id"), F.lit(0)).alias("__mn"),
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit(-1).cast("bigint").alias("doc_id"),
                            F.col("__n").cast("bigint").alias("duplicate_of"),
                        ),
                        F.struct(
                            F.lit(-2).cast("bigint").alias("doc_id"),
                            F.col("__ns").cast("bigint").alias("duplicate_of"),
                        ),
                        F.struct(
                            F.lit(-3).cast("bigint").alias("doc_id"),
                            F.col("__mn").cast("bigint").alias("duplicate_of"),
                        ),
                    )
                ).alias("__s")
            )
            .select("__s.doc_id", "__s.duplicate_of")
        )
        prof_cols = [
            "doc_id", "sh_set", "n_sh", *[f"__s{b}" for b in range(N_BANDS)]
        ]
        # The dup map is collect()ed directly below — the verify join (the
        # batch's dominant data-sized work) executes exactly ONCE, inside
        # that collect job, and nothing else ever reads the dup-map frame,
        # so the former localCheckpoint of it was a whole extra scheduling
        # round buying nothing. The per-batch job inventory is therefore:
        # profile ckpt, ONE fused verify+dup-map+counts collect, then the
        # overlapped verdict/segment writes (pure expression filters over
        # prof's blocks — no further checkpoints or broadcast builds).
        #
        # WHY NOT fuse prof+dupmap into one checkpointed frame (r7's idea,
        # re-attempted and killed in r8): localCheckpoint leaves DO NOT
        # truncate Catalyst stats estimation — forcing a leaf's stats
        # re-enters its origin plan's stats, and the analyzer clones
        # every self-referenced subtree (DeduplicateRelations), defeating
        # the per-node stats memo. A session-lived frame whose checkpoint
        # ANCESTRY references prior checkpoints r times per level makes
        # per-batch planning cost r^depth — measured x4/batch here and
        # reproduced minimally in scripts/repro_stats_ancestry.py (a
        # join-shaped checkpoint chain is 2^depth; a union-shaped chain is
        # flat). A persist()-based fusion (InMemoryRelation stats ARE
        # ancestry-terminal) was also built and A/B-measured: the columnar
        # cache build cost MORE than the scheduling round it saved (p50
        # 1.49 s vs 1.23 s) — rejected. The invariant that stands:
        # BOUNDED CHECKPOINT-STATS ANCESTRY for anything the store
        # retains — prof's origin (aggregate over the stream chunk) and
        # the dup map's origin (join over ancestry-terminal store frames)
        # both terminate at depth <= 3.
        base = prof
        # chain resolution DRIVER-SIDE (r8): the dup map is micro-batch-
        # bounded and the former _resolve_chains broadcast self-joins moved
        # the same rows through the driver anyway (broadcast = collect),
        # while costing one broadcast-build job per round. Collecting once
        # and pointer-chasing in Python resolves chains of ANY length
        # (strictly-decreasing batch chains + terminal store targets
        # guarantee termination) and re-enters the plan as literal
        # expressions costing ZERO extra jobs. Net: -2 jobs/batch and a
        # stronger verdict contract (every duplicate_of names a retained
        # representative, no 2^rounds cap).
        dmap = {
            r["doc_id"]: r["duplicate_of"]
            for r in dupmap.unionByName(sentinels).collect()
        }
        n_total = dmap.pop(-1)
        n_shingled = dmap.pop(-2)
        min_doc_id = dmap.pop(-3)
        if not n_total:
            return
        if min_doc_id < 0:
            raise ValueError(
                f"dedup stream: batch {batch_id} contains doc_id "
                f"{min_doc_id} < 0 — the -1/-2/-3 sentinel keyspace "
                "requires non-negative doc_ids"
            )
        resolved: dict[int, int] = {}
        for d in dmap:
            t = dmap[d]
            # Cycle guard: a stored representative re-delivered alongside
            # a smaller-id near-duplicate in one batch can produce
            # dmap[b]=a (batch-internal pair) AND dmap[a]=b (store-side
            # pair has no id_a<id_b filter), so an unguarded chase loops
            # forever. Track the chain; on re-entry, break to the
            # smallest id in the cycle (deterministic representative).
            seen = {d}
            while t in dmap:
                if t in seen:
                    # walk the loop once from the re-entered node to
                    # collect exactly the cycle members (path nodes
                    # BEFORE the cycle entry are duplicates, not
                    # candidates for representative)
                    cyc, u = {t}, dmap[t]
                    while u != t:
                        cyc.add(u)
                        u = dmap[u]
                    t = min(cyc)
                    break
                seen.add(t)
                t = dmap[t]
            if t != d:
                resolved[d] = t
        # Re-enter the plan as LITERAL EXPRESSIONS, not a joined frame:
        # spark.createDataFrame() parallelizes to an RDD, so broadcasting
        # it back costs one build job per join (measured — it gave back
        # everything the driver-side resolution saved). A literal map
        # lookup + isin predicate over the checkpointed profiles costs
        # ZERO extra jobs. Guarded by _EXPR_MAP_MAX: a pathological batch
        # (everything duplicate) would otherwise inline an unbounded
        # expression tree — past the cap, fall back to a broadcast join.
        spark = batch_df.sparkSession
        use_expr = len(resolved) <= _EXPR_MAP_MAX
        if not resolved:
            dup_col = F.lit(None).cast("bigint")
            surv_pred = F.col("n_sh") > 0
        elif use_expr:
            # ONE F.expr string, not per-entry F.lit() columns: each lit()
            # is a py4j round-trip, and building 2 x |dups| of them cost
            # ~0.3-0.4 s/batch at 20 dups (measured — more than the two
            # broadcast jobs it replaced). The L suffix types every literal
            # BIGINT; a bare int literal is INT, and a verdict file written
            # with an INT duplicate_of breaks the parquet read against
            # BIGINT files from other batches.
            entries = ", ".join(f"{k}L, {v}L" for k, v in resolved.items())
            dup_col = F.expr(f"map({entries})[doc_id]")
            ids = ",".join(f"{k}L" for k in resolved)
            surv_pred = F.expr(f"n_sh > 0 AND doc_id NOT IN ({ids})")
        else:
            dup_local = spark.createDataFrame(
                list(resolved.items()), "doc_id BIGINT, duplicate_of BIGINT"
            )

        # shingle-less docs (n_sh = 0) are excluded from the store: their
        # NULL signatures can never match a future candidate, so storing
        # them would only grow the segments
        if not resolved or use_expr:
            survivors = base.filter(surv_pred).select(*prof_cols)
            verdicts = base.select(
                "doc_id",
                F.lit(int(batch_id)).alias("batch_id"),
                dup_col.isNotNull().alias("is_duplicate"),
                dup_col.alias("duplicate_of"),
            )
        else:
            survivors = (
                base.filter(F.col("n_sh") > 0)
                .join(
                    F.broadcast(dup_local.select("doc_id")),
                    "doc_id",
                    "left_anti",
                )
                .select(*prof_cols)
            )
            verdicts = (
                base.select("doc_id")  # checkpointed — no raw-chunk rescan
                .join(F.broadcast(dup_local), "doc_id", "left")
                .select(
                    "doc_id",
                    F.lit(int(batch_id)).alias("batch_id"),
                    F.col("duplicate_of").isNotNull().alias("is_duplicate"),
                    "duplicate_of",
                )
            )
        # the store commit and the verdict emit touch disjoint paths and
        # depend only on the two checkpoints above — overlap the jobs.
        # Crash ordering note: a crash here can leave EITHER side ahead;
        # both are already replay-safe on their own (manifest-gated append,
        # at-least-once verdicts), so the overlap adds no new states.
        with ThreadPoolExecutor(1) as pool:
            # manifest-gated append: replaying this batch finds the segment
            # committed and skips -> idempotent under crash-replay.
            # leaf_backed + precount only on the expression path: there
            # survivors is a pure filter over prof's materialized blocks
            # and its exact row count is already known driver-side — every
            # resolved duplicate matched a band signature, so it has
            # n_sh > 0 and subtracts from the shingled count (the
            # join-fallback path must checkpoint and count itself —
            # session-lived cache frames must stay ancestry-terminal, see
            # the checkpoint-ancestry note above).
            expr_path = not resolved or use_expr
            fut = pool.submit(
                store.append,
                survivors,
                str(batch_id),
                expr_path,
                (n_shingled - len(resolved)) if expr_path else None,
            )
            # verdict volume is exactly n_total rows (known driver-side) —
            # size the file count like the store does instead of emitting
            # one near-empty file per shuffle partition every batch
            verdicts.coalesce(
                -(-n_total // DedupSegmentStore.rows_per_file)
            ).write.mode("append").parquet(out_path)
            fut.result()

        # compact LAST: the verdict plan above lazily reads the pre-append
        # segments; folding them away earlier deletes files under a live plan
        if store.n_segments() >= compact_every or ttl_appends is not None:
            fanout = (
                max(2, compact_every - 2)
                if compact_fanout == "auto"
                else compact_fanout
            )
            store.compact(fanout=fanout, ttl_appends=ttl_appends)

    return on_batch


def start_streaming_dedup(
    docs_stream: DataFrame,
    store: DedupSegmentStore,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    broadcast_store_max_rows: int = 100_000,
    compact_every: int = 8,
):
    """Wire the dedup batch function into a stream (availableNow by default
    semantics come from the caller's trigger via start_foreach_batch)."""
    from .sinks import start_foreach_batch

    return start_foreach_batch(
        docs_stream,
        make_dedup_batch_fn(
            store,
            out_path,
            threshold,
            broadcast_store_max_rows=broadcast_store_max_rows,
            compact_every=compact_every,
        ),
        checkpoint=checkpoint,
        output_mode="update",
    )
