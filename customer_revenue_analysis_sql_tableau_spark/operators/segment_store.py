"""Segment-store lifecycle tail: time-travel reads and GC/VACUUM.

The persisted ANN index already writes the full lake discipline —
immutable cell-partitioned segments, meta-written-last commits, a
versioned segments manifest appended by compare-and-swap
(``similarity.sim_persisted_concurrent_ingest``) and versioned merge
manifests (``similarity.sim_persisted_merge_deltas``). This module adds
the lifecycle tail on top of those artifacts:

- **Time travel** (:func:`read_index_asof`): immutable segments +
  versioned manifests make every historical index state reconstructible
  for free — resolving the segment set as of manifest version ``v`` is
  the Iceberg snapshot-read / Delta ``VERSION AS OF`` contract. The
  registered entry pins the chain algebra: as-of-v2 equals v1 plus
  exactly writer A's segment, and head minus v2 is exactly writer B's.
- **VACUUM** (:func:`sim_persisted_vacuum`): retired segments otherwise
  accumulate forever. The retention pass keeps the segments referenced
  by the last ``VACUUM_RETAIN_LAST`` manifest versions, deletes every
  unreferenced segment directory and expired manifest, and proves the
  three contract clauses of Iceberg's ``expire_snapshots``: (a)
  head-reader answers are bit-unchanged, (b) only unreferenced
  directories were removed, (c) a reader pinned to an expired version
  is the documented casualty.
- **Windowed VACUUM** (:func:`sim_persisted_vacuum_window`): the same
  pass at retention 2 over a DEEPER chain in which a compaction
  rewrote a delta — so the window genuinely splits history:
  the intermediate retained version stays readable as-of with its exact
  pre-delete digest, only the segment no retained version references
  expires, and both casualty modes fire (pinned file read AND expired
  as-of resolution).

Scale posture: all passes read only manifests (KB-sized JSON) plus, for
VACUUM, O(#segments) driver-side directory metadata — no data scan. The
corpus-sized digests and counts in the registered summaries are the cost
of the PROOF, not of the production pass. The VACUUM entries stage their
own copy-on-write universes (segment copies + their own manifest chains)
so the destructive deletes can never invalidate the concurrent-ingest /
merge entries' shared artifacts.

Shared algebra (digest, tagged-union stats, manifest chain walk, atomic
JSON commits) lives in ``lake_core`` — one definition for the batch
store, the stream-maintained store, and the compaction passes.

Reference parity note: the reference (customer-revenue-analysis-sql-
tableau, a MySQL dump + Tableau workbook) has no storage-lifecycle
surface; this module belongs to the driver's large-scale-pipeline
mandate.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake_core import (
    atomic_write_json,
    content_digest,
    json_manifest_chain,
    read_json,
    segment_union_stats,
    union_segments,
)
from .similarity import (
    DELIVERY_MOD,
    N_QUERIES,
    TOP_K,
    _ivf_index_dir,
    brute_topk_over_live,
    sim_persisted_concurrent_ingest,
)

__all__ = [
    "read_index_asof",
    "segment_union_stats",  # re-export: canonical home is lake_core
    "sim_persisted_read_asof",
    "sim_asof_v2_brute_topk",
    "sim_persisted_vacuum",
    "sim_persisted_vacuum_window",
]

#: VACUUM retention: keep segments referenced by this many newest
#: manifest versions. 1 = head-only (the most aggressive legal setting;
#: production defaults retain hours-to-days of versions — the pass is
#: identical, only the cutoff moves). ``sim_persisted_vacuum_window``
#: exercises a window of 2 over a deeper chain.
VACUUM_RETAIN_LAST = 1

#: The postings projection every reader view in this store resolves to;
#: digests cover all three so a copy that corrupted vector VALUES (not
#: just membership) flips them.
_POSTING_COLS = ("vec_id", "v", "cell")
#: Column order of the vacuum passes' recorded content digests.
_VAC_DIGEST_COLS = ("vec_id", "cell", "v")

#: Writer-contract schema of every postings segment (the ingest
#: protocol writes exactly this; ``cell`` is the partition column).
#: Declared so readers skip per-relation schema inference — at sf0.1
#: each segment dir holds ~100 KB-sized files and the footer-sampling
#: pass costs ~90 ms of driver latency per relation per read.
_POSTINGS_SCHEMA = "vec_id bigint, v array<double>, cell int"


def _segment_postings_path(d: str, seg: str) -> str:
    """The base segment lives at the index root; delta segments under
    their own dirs (the layout ``sim_persisted_concurrent_ingest``
    commits)."""
    return f"{d}/postings" if seg == "postings" else f"{d}/{seg}/postings"


def _manifest_chain(
    spark: SparkSession, sf_dir: str
) -> tuple[str, dict[int, list[str]]]:
    """Read the versioned segments-manifest chain (creating it via the
    concurrent-ingest protocol if absent); returns
    ``(index_dir, {version: segments})``. Manifests are KB-sized JSON —
    the same driver-side-scalar class as centroids/meta."""
    d = f"{_ivf_index_dir(spark, sf_dir)}_base"
    mdir = f"{d}/segments_manifest".removeprefix("file:")
    if not os.path.exists(f"{mdir}/manifest_v3"):
        sim_persisted_concurrent_ingest(spark, sf_dir)
    return d, {
        int(doc["version"]): doc["segments"]
        for doc in json_manifest_chain(mdir).values()
    }


def read_index_asof(
    spark: SparkSession, sf_dir: str, version: int
) -> DataFrame:
    """AS-OF-VERSION read: resolve the segment set the manifest chain
    recorded at ``version`` and union those segments' postings — the
    historical index state, reconstructed from immutable artifacts with
    zero extra storage. Raises on a version the chain never committed
    (including one VACUUM has expired — the documented casualty)."""
    d, chain = _manifest_chain(spark, sf_dir)
    if version not in chain:
        raise ValueError(
            f"manifest version {version} not in chain"
            f" (available: {sorted(chain)})"
        )
    return union_segments(
        spark,
        [_segment_postings_path(d, seg) for seg in chain[version]],
        ("vec_id", "v", "cell"),
        schema=_POSTINGS_SCHEMA,
    )


def _validated_full_chain(
    spark: SparkSession, sf_dir: str
) -> tuple[str, dict[int, list[str]]]:
    """The 3-version multi-writer chain, validated up front: every
    expected version present and earlier versions' segment sets nested
    in the head — a torn/partial chain raises the same descriptive
    ``ValueError`` contract as :func:`read_index_asof`, never a bare
    ``KeyError``."""
    d, chain = _manifest_chain(spark, sf_dir)
    missing = [v for v in (1, 2, 3) if v not in chain]
    if missing:
        raise ValueError(
            f"manifest version {missing} not in chain"
            f" (available: {sorted(chain)})"
        )
    for v in (1, 2):
        if not set(chain[v]) <= set(chain[3]):
            raise ValueError(
                f"torn manifest chain: v{v} references segments outside"
                f" the head ({sorted(set(chain[v]) - set(chain[3]))})"
            )
    return d, chain


def sim_persisted_read_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL entry: pin the chain algebra of the v1 → v2 → v3
    manifest history the multi-writer protocol committed. Oracle-backed
    exactly — DuckDB recomputes every count from the delivery split
    (base = ``vec_id % {MOD} != {MOD}-1``; writer A's wave =
    ``% 2·{MOD} == {MOD}-1``; writer B's the rest): as-of-v2 must equal
    as-of-v1 plus EXACTLY writer A's segment, and head minus as-of-v2
    must be EXACTLY writer B's — no version leaks rows across the
    chain in either direction."""
    d, chain = _validated_full_chain(spark, sf_dir)
    segs = {v: set(chain[v]) for v in (1, 2, 3)}
    # ONE pass over each distinct segment (the head covers them all).
    # The naive form — materializing three reader views and
    # anti-joining them pairwise — re-scans the cell-partitioned base
    # seven times; this shape reads each segment once.
    n_seg, disjoint = segment_union_stats(
        spark,
        [
            (
                seg,
                spark.read.schema(_POSTINGS_SCHEMA).parquet(
                    _segment_postings_path(d, seg)
                ),
            )
            for seg in sorted(segs[3])
        ],
    )
    n_asof = {v: sum(n_seg[s] for s in chain[v]) for v in (1, 2, 3)}
    v2_ok = segs[2] == segs[1] | {"insert_delta_w1"} and disjoint
    v3_ok = segs[3] == segs[2] | {"insert_delta_w2"} and disjoint
    return spark.createDataFrame(
        [
            (
                int(n_asof[1]),
                int(n_asof[2]),
                int(n_asof[3]),
                bool(v2_ok),
                bool(v3_ok),
            )
        ],
        "n_asof_v1 bigint, n_asof_v2 bigint, n_asof_v3 bigint,"
        " v2_is_v1_plus_w1 boolean, head_minus_v2_is_w2 boolean",
    )


def sim_asof_v2_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel as a QUERY surface, not just an audit: exact cosine
    top-k against the AS-OF-v2 snapshot (base + writer A's wave — the
    corpus a reader saw before writer B's commit). The live set comes
    from :func:`read_index_asof`; the tail is the shared brute-force
    shape (``similarity.brute_topk_over_live``), so the whole historical
    answer is hash-green against DuckDB's brute force over the same
    membership predicate. The reproducible-training-snapshot story:
    any committed version's exact search results can be regenerated
    bit-for-bit."""
    live = read_index_asof(spark, sf_dir, 2).select("vec_id", "v")
    return brute_topk_over_live(live)


# ---------------------------------------------------------------------------
# VACUUM: destructive passes run in their own copy-on-write universes.
# ---------------------------------------------------------------------------

#: The head-retention universe's segment names and manifest history:
#: three additive commits, then a compaction commit that folds both
#: deltas into one merged segment and RETIRES them — leaving w1/w2
#: unreferenced by the head, which is exactly what GC must (only)
#: collect.
_VAC_CHAIN: dict[int, list[str]] = {
    1: ["seg_base"],
    2: ["seg_base", "seg_w1"],
    3: ["seg_base", "seg_w1", "seg_w2"],
    4: ["seg_base", "seg_merged"],
}
_VAC_SOURCES = {
    "seg_base": "postings",
    "seg_w1": "insert_delta_w1",
    "seg_w2": "insert_delta_w2",
}


def _vacuum_dir(spark: SparkSession, sf_dir: str) -> str:
    return f"{_ivf_index_dir(spark, sf_dir)}_vacuum"


def _vac_reader(spark: SparkSession, vd: str, segments: list[str]) -> DataFrame:
    return union_segments(
        spark,
        [f"{vd}/{seg}/postings" for seg in segments],
        _POSTING_COLS,
        schema=_POSTINGS_SCHEMA,
    )


def _run_retention(
    root: str, chain: dict[int, list[str]], staged: set[str], retain: int
) -> tuple[list[str], list[int], list[int]]:
    """The retention pass both VACUUM entries share: keep the segments
    referenced by the newest ``retain`` manifest versions, delete every
    unreferenced segment directory and expired manifest file. Returns
    ``(deleted_segments, expired_versions, retained_versions)`` —
    O(#segments) driver metadata, no data scan."""
    retained = sorted(chain)[-retain:]
    referenced = {s for v in retained for s in chain[v]}
    deleted = sorted(staged - referenced)
    for seg in deleted:
        shutil.rmtree(f"{root}/{seg}", ignore_errors=True)
    expired = [v for v in chain if v not in retained]
    for v in expired:
        try:
            os.remove(f"{root}/manifest_v{v}")
        except FileNotFoundError:
            pass
    return deleted, expired, retained


def _pinned_read_fails(spark: SparkSession, path: str) -> bool:
    """The documented casualty probe: ANY failure of the pinned read
    satisfies the contract clause — catch broadly, not just
    ``AnalysisException``: a different exception class from a future
    Spark version must flip the boolean, not abort the entry."""
    try:
        spark.read.parquet(path).limit(1).collect()
        return False
    except Exception:  # noqa: BLE001 - any failure IS the contract
        return True


def sim_persisted_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GC/VACUUM with a retention window. Stages
    a copy-on-write segment universe (base + both delta waves copied
    from the concurrent-ingest artifacts), replays the 4-version
    manifest history ending in a compaction commit that retires the
    two delta segments, snapshots the head reader's content digest,
    then runs the retention pass: keep the segments referenced by the
    newest ``VACUUM_RETAIN_LAST`` manifests, delete every unreferenced
    segment directory and expired manifest file. ``vacuum_done`` is the
    completion marker (written LAST, records what was deleted); a torn
    run re-enters and replays deterministically.

    The summary recomputes the ``expire_snapshots`` contract from the
    ON-DISK post-state: exact head live count (DuckDB: the full
    corpus), head-reader digest unchanged across the delete, only
    unreferenced directories removed, only the retained manifest left,
    and a reader pinned to an expired version failing loudly."""
    d, _chain = _manifest_chain(spark, sf_dir)  # ensures the source chain
    vd = _vacuum_dir(spark, sf_dir)
    root = vd.removeprefix("file:")
    marker = f"{root}/vacuum_done"
    head_v = max(_VAC_CHAIN)
    if not os.path.exists(marker):
        os.makedirs(root, exist_ok=True)
        # stage segment copies (idempotent overwrite; _SUCCESS-gated
        # sources are already complete because _manifest_chain ran)
        for seg, src in _VAC_SOURCES.items():
            spark.read.parquet(_segment_postings_path(d, src)).write.mode(
                "overwrite"
            ).parquet(f"{vd}/{seg}/postings")
        spark.read.parquet(f"{vd}/seg_w1/postings").unionByName(
            spark.read.parquet(f"{vd}/seg_w2/postings")
        ).write.mode("overwrite").parquet(f"{vd}/seg_merged/postings")
        for v, segs in _VAC_CHAIN.items():
            atomic_write_json(
                f"{root}/manifest_v{v}", {"version": v, "segments": segs}
            )
        # snapshot the head answer BEFORE any delete — the digest the
        # post-delete reader must reproduce bit-for-bit
        n_pre, dig_pre = content_digest(
            _vac_reader(spark, vd, _VAC_CHAIN[head_v]), _VAC_DIGEST_COLS
        )
        atomic_write_json(f"{root}/digest_pre", {"n": n_pre, "dig": dig_pre})

        deleted, expired, _retained = _run_retention(
            root,
            _VAC_CHAIN,
            {*_VAC_SOURCES, "seg_merged"},
            VACUUM_RETAIN_LAST,
        )
        # completion marker LAST
        atomic_write_json(marker, {"deleted": deleted, "expired": expired})

    # ---- recompute the contract from the on-disk post-state ----
    done = read_json(marker)
    pre = read_json(f"{root}/digest_pre")
    remaining_manifests = sorted(json_manifest_chain(root))
    head_segs = read_json(f"{root}/manifest_v{head_v}")["segments"]
    n_post, dig_post = content_digest(
        _vac_reader(spark, vd, head_segs), _VAC_DIGEST_COLS
    )
    remaining_segs = sorted(
        f_
        for f_ in os.listdir(root)
        if os.path.isdir(os.path.join(root, f_))
    )
    # referenced = union over the RETAINED manifests (reduces to the
    # head's segments at retention 1, and generalizes: a wider window
    # keeps everything its versions still reference)
    referenced: set[str] = set()
    for v in remaining_manifests:
        referenced |= set(read_json(f"{root}/manifest_v{v}")["segments"])
    only_unreferenced = remaining_segs == sorted(referenced) and not (
        set(done["deleted"]) & referenced
    )
    return spark.createDataFrame(
        [
            (
                int(n_post),
                bool(n_post == pre["n"] and dig_post == pre["dig"]),
                bool(only_unreferenced),
                bool(
                    remaining_manifests
                    == sorted(_VAC_CHAIN)[-VACUUM_RETAIN_LAST:]
                ),
                bool(_pinned_read_fails(spark, f"{vd}/seg_w1/postings")),
            )
        ],
        "n_live bigint, reader_digest_unchanged boolean,"
        " only_unreferenced_deleted boolean, manifests_retained boolean,"
        " pinned_reader_fails boolean",
    )


# ---------------------------------------------------------------------------
# Windowed VACUUM (retention 2): the window must genuinely split
# history — an intermediate version stays readable, an older one
# expires. The chain a compaction mid-history produces: v3 rewrote
# writer A's delta into a compacted twin (seg_m1, same rows), so after
# retention-2 GC the only casualty is seg_w1 (referenced by v1/v2
# alone) while v3 — the intermediate RETAINED version — must still
# serve its exact pre-delete digest.
# ---------------------------------------------------------------------------

_VAC2_CHAIN: dict[int, list[str]] = {
    1: ["seg_base"],
    2: ["seg_base", "seg_w1"],
    3: ["seg_base", "seg_m1"],
    4: ["seg_base", "seg_m1", "seg_w2"],
}
_VAC2_RETAIN = 2


def _vacuum2_dir(spark: SparkSession, sf_dir: str) -> str:
    return f"{_ivf_index_dir(spark, sf_dir)}_vacuum_w2"


def read_vacuum2_asof(
    spark: SparkSession, sf_dir: str, version: int
) -> DataFrame:
    """As-of read over the windowed-retention universe's REMAINING
    manifest chain — after GC, resolving an expired version raises the
    same ``ValueError`` contract as :func:`read_index_asof` (the second
    casualty mode the windowed entry pins)."""
    vd = _vacuum2_dir(spark, sf_dir)
    chain = {
        v: doc["segments"]
        for v, doc in json_manifest_chain(vd.removeprefix("file:")).items()
    }
    if version not in chain:
        raise ValueError(
            f"manifest version {version} not in chain"
            f" (available: {sorted(chain)})"
        )
    return _vac_reader(spark, vd, chain[version])


def sim_persisted_vacuum_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-version retention: VACUUM with
    ``retain = 2`` over a 4-version chain where a compaction rewrote
    writer A's delta (v3: ``seg_w1`` → ``seg_m1``, identical rows).
    Retained = {v3, v4}; their reference closure is {base, m1, w2}, so
    GC must delete EXACTLY ``seg_w1`` and expire manifests v1/v2 —
    while v3, the intermediate retained version, must remain readable
    as-of with its exact pre-delete content digest (snapshotted before
    any delete). Both casualty modes are pinned: the expired segment's
    pinned file read fails loudly, and as-of resolution of an expired
    VERSION raises the chain's ``ValueError`` contract.

    Copy-on-write universe (own segment copies + own manifest chain);
    completion marker written LAST; torn runs replay deterministically.
    Scale posture identical to :func:`sim_persisted_vacuum`: the pass
    is O(#segments) driver metadata, the digests are proof cost."""
    d, _chain = _manifest_chain(spark, sf_dir)  # ensures source segments
    vd = _vacuum2_dir(spark, sf_dir)
    root = vd.removeprefix("file:")
    marker = f"{root}/vacuum_done"
    head_v = max(_VAC2_CHAIN)
    mid_v = sorted(_VAC2_CHAIN)[-_VAC2_RETAIN]  # the intermediate retained
    if not os.path.exists(marker):
        os.makedirs(root, exist_ok=True)
        for seg, src in _VAC_SOURCES.items():
            spark.read.parquet(_segment_postings_path(d, src)).write.mode(
                "overwrite"
            ).parquet(f"{vd}/{seg}/postings")
        # the mid-chain compaction: rewrite w1 1:1 (coalesced) — same
        # rows, different files, new segment identity
        spark.read.parquet(f"{vd}/seg_w1/postings").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{vd}/seg_m1/postings")
        for v, segs in _VAC2_CHAIN.items():
            atomic_write_json(
                f"{root}/manifest_v{v}", {"version": v, "segments": segs}
            )
        # snapshot EVERY retained version's digest before any delete —
        # the windowed contract is that each retained version (not just
        # the head) reproduces its answer bit-for-bit afterwards
        pre = {}
        for v in sorted(_VAC2_CHAIN)[-_VAC2_RETAIN:]:
            n, dig = content_digest(
                _vac_reader(spark, vd, _VAC2_CHAIN[v]), _VAC_DIGEST_COLS
            )
            pre[str(v)] = {"n": n, "dig": dig}
        atomic_write_json(f"{root}/digest_pre", pre)

        deleted, expired, _retained = _run_retention(
            root,
            _VAC2_CHAIN,
            {*_VAC_SOURCES, "seg_m1"},
            _VAC2_RETAIN,
        )
        atomic_write_json(marker, {"deleted": deleted, "expired": expired})

    done = read_json(marker)
    pre = read_json(f"{root}/digest_pre")
    remaining_manifests = sorted(json_manifest_chain(root))
    head_segs = read_json(f"{root}/manifest_v{head_v}")["segments"]
    n_post, dig_post = content_digest(
        _vac_reader(spark, vd, head_segs), _VAC_DIGEST_COLS
    )
    head_pre = pre[str(head_v)]
    # the intermediate retained version, re-read from disk post-delete
    try:
        n_mid, dig_mid = content_digest(
            read_vacuum2_asof(spark, sf_dir, mid_v), _VAC_DIGEST_COLS
        )
        mid_pre = pre[str(mid_v)]
        mid_ok = n_mid == mid_pre["n"] and dig_mid == mid_pre["dig"]
    except Exception:  # noqa: BLE001 - a failed retained read is a FAIL
        mid_ok = False
    remaining_segs = sorted(
        f_
        for f_ in os.listdir(root)
        if os.path.isdir(os.path.join(root, f_))
    )
    referenced: set[str] = set()
    for v in remaining_manifests:
        referenced |= set(read_json(f"{root}/manifest_v{v}")["segments"])
    only_unreferenced = (
        remaining_segs == sorted(referenced)
        and not (set(done["deleted"]) & referenced)
        and done["deleted"] == ["seg_w1"]
    )
    # casualty mode 2: resolving an EXPIRED version raises the chain's
    # ValueError contract (the manifest itself is gone)
    try:
        read_vacuum2_asof(spark, sf_dir, 2)
        expired_raises = False
    except ValueError:
        expired_raises = True
    return spark.createDataFrame(
        [
            (
                int(n_post),
                bool(
                    n_post == head_pre["n"] and dig_post == head_pre["dig"]
                ),
                bool(mid_ok),
                bool(only_unreferenced),
                bool(
                    remaining_manifests
                    == sorted(_VAC2_CHAIN)[-_VAC2_RETAIN:]
                ),
                bool(
                    expired_raises
                    and _pinned_read_fails(spark, f"{vd}/seg_w1/postings")
                ),
            )
        ],
        "n_live bigint, head_digest_unchanged boolean,"
        " intermediate_asof_readable boolean,"
        " only_unreferenced_deleted boolean, manifests_retained boolean,"
        " expired_asof_fails boolean",
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sim_persisted_read_asof": sim_persisted_read_asof,
    "sim_asof_v2_brute_topk": sim_asof_v2_brute_topk,
    "sim_persisted_vacuum": sim_persisted_vacuum,
    "sim_persisted_vacuum_window": sim_persisted_vacuum_window,
}

_W = DELIVERY_MOD  # 10: delivery = %10==9; wave A = %20==9, wave B = %20==19

ORACLES: dict[str, str] = {
    # the chain algebra is exact: DuckDB recomputes every as-of count
    # from the delivery split, and the exact engine asserts the
    # no-leak booleans must hold
    "sim_persisted_read_asof": f"""
        SELECT CAST(sum(CASE WHEN vec_id % {_W} != {_W - 1}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_asof_v1,
               CAST(sum(CASE WHEN vec_id % {_W} != {_W - 1}
                              OR vec_id % {2 * _W} = {_W - 1}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_asof_v2,
               CAST(count(*) AS BIGINT) AS n_asof_v3,
               TRUE AS v2_is_v1_plus_w1,
               TRUE AS head_minus_v2_is_w2
        FROM embeddings""",
    # the historical snapshot's exact search: DuckDB reproduces the
    # v2 membership (base ∪ wave A) from the delivery split and runs
    # the identical brute force — hash-green, every float bit
    "sim_asof_v2_brute_topk": f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE vec_id % {_W} != {_W - 1}
               OR vec_id % {2 * _W} = {_W - 1}),
        scored AS (
            SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                   list_dot_product(q.v, x.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(x.v, x.v))) AS cosine
            FROM e q JOIN e x ON q.vec_id != x.vec_id
            WHERE q.vec_id < {N_QUERIES}),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored)
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}""",
    # after GC the head must still serve the FULL corpus (base ∪ both
    # waves) with its pre-delete digest, having removed only the
    # retired segments
    "sim_persisted_vacuum": """
        SELECT CAST(count(*) AS BIGINT) AS n_live,
               TRUE AS reader_digest_unchanged,
               TRUE AS only_unreferenced_deleted,
               TRUE AS manifests_retained,
               TRUE AS pinned_reader_fails
        FROM embeddings""",
    # retention 2 over the compaction-rewritten chain: the head still
    # serves the full corpus (base ∪ m1 ∪ w2 ≡ base ∪ w1 ∪ w2), the
    # intermediate retained version reproduces its digest, exactly
    # seg_w1 expired, and both casualty modes fired
    "sim_persisted_vacuum_window": """
        SELECT CAST(count(*) AS BIGINT) AS n_live,
               TRUE AS head_digest_unchanged,
               TRUE AS intermediate_asof_readable,
               TRUE AS only_unreferenced_deleted,
               TRUE AS manifests_retained,
               TRUE AS expired_asof_fails
        FROM embeddings""",
}
